"""Stress probe: scale the sf0.1 fixtures in-memory (documents ×20 →
100k docs, lineitem ×10 → 6M rows) and time the heavyweight
operators. This exercises the plans well past the fixture sizes —
the point is that wall time grows sub-linearly in input (partition
parallelism absorbing the work), with no failures or spills.

Usage: python tools/stress_probe.py  (append output to SCALING.md)
       python tools/stress_probe.py --decade
           one more decade on the heavy trio only: documents x100
           (500k docs, ~26M shingles) through index build, banded
           minhash, and the composed store lifecycle — the largest
           in-container evidence that the growth stays sub-linear
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators import dedup as D
from mapreduce_inverted_index_spark.operators.inverted_index import build_index
from mapreduce_inverted_index_spark.plans.oracle_compat import dsum
from mapreduce_inverted_index_spark.session import get_spark
from mapreduce_inverted_index_spark.sources.tables import load_table

SF = "/root/testdata/sf0.1"


def replicate(df, times: int, id_col: str | None = None):
    n = df.count()
    parts = []
    for i in range(times):
        p = df
        if id_col is not None:
            p = p.withColumn(id_col, F.col(id_col) + F.lit(i * n))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed(label: str, df) -> None:
    t0 = time.perf_counter()
    n = df.count()
    print(f"| {label} | {n:,} rows out | {time.perf_counter() - t0:.2f}s |")


def replicate_wide(df, times: int, id_col: str):
    """Constant-plan-size replication for large factors: crossJoin a
    ``range(times)`` copy index instead of a ``times``-arm union (a
    100-arm union lineage bloats the plan; the join form keeps it
    one node and parallelizes the copy work across partitions)."""
    n = df.count()
    copies = df.sparkSession.range(times).select(
        F.col("id").alias("_copy")
    )
    return (
        df.crossJoin(copies)
        .withColumn(id_col, F.col(id_col) + F.col("_copy") * F.lit(n))
        .drop("_copy")
        .repartition(64)
    )


def decade() -> None:
    """The x100 decade: heavy trio only (index build, banded minhash,
    composed store lifecycle) over 500k docs."""
    import shutil
    import tempfile

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
        merge_into_index_store,
        write_index_store,
    )

    spark = get_spark(
        app_name="stress-decade",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = load_table(spark, SF, "documents")
    docs100 = replicate_wide(docs, 100, "doc_id").persist()
    docs100.count()  # materialize once; every probe reads the cache

    build_index(docs).count()  # warm

    print("\n### x100 decade (generated by tools/stress_probe.py --decade)\n")
    print("sf0.1 documents x100 = 500k docs (~26M shingles), local[32],")
    print("replicated via crossJoin(range(100)) and persisted so every")
    print("row below pays compute, not replication.\n")
    print("| operator | output | wall |")
    print("|---|---|---|")
    timed("inverted_index over 500k docs", build_index(docs100))
    timed(
        "minhash_near_dup over 500k docs (20 planted-dup clusters x100 copies)",
        D.minhash_near_dup(docs100),
    )
    store = tempfile.mkdtemp(prefix="mii_decade_lc_") + "/idx"
    seed = docs100.where(F.col("doc_id") % 3 != 0)
    delta = docs100.where(F.col("doc_id") % 3 == 0)
    dead_ids = list(range(0, 500_000, 20))  # 25k ids
    t0 = time.perf_counter()
    write_index_store(build_index(seed), store, n_buckets=64)
    t_seed = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_del = len(delete_from_index_store(spark, store, dead_ids))
    t_del = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_add = len(merge_into_index_store(spark, store, build_index(delta)))
    t_add = time.perf_counter() - t0
    print(
        f"| index-store lifecycle over 500k docs: seed-ingest 2/3 "
        f"({t_seed:.2f}s), 25k-id takedown ({n_del} buckets, "
        f"{t_del:.2f}s), delta-ingest 1/3 ({n_add} buckets, "
        f"{t_add:.2f}s) | 64-bucket store | "
        f"{t_seed + t_del + t_add:.2f}s |"
    )
    shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)
    docs100.unpersist()

    # the embedding twin: 500k vectors through the IVF cell-store
    # lifecycle. Replication preserves cell balance (every copy of a
    # vector lands in its original's cell), so the takedown/compact
    # IO footprint is the honest signal; a probe after compaction
    # shows the open-file count recovering at scale.
    from mapreduce_inverted_index_spark.operators.similarity import (
        compact_ivf_cells,
        delete_from_ivf_cells,
        ivf_assign,
        ivf_centroids,
        ivf_pruned_scan_topk,
        write_ivf_cells,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    emb250 = replicate_wide(emb, 250, "vec_id").persist()
    n_vecs = emb250.count()
    cells_path = tempfile.mkdtemp(prefix="mii_decade_ivf_") + "/cells"
    t0 = time.perf_counter()
    cents = ivf_centroids(emb250, n_cells=64).persist()
    cents.count()
    t_train = time.perf_counter() - t0
    t0 = time.perf_counter()
    write_ivf_cells(ivf_assign(emb250, cents), cells_path)
    t_write = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_del = len(
        delete_from_ivf_cells(spark, cells_path, list(range(0, 500_000, 20)))
    )
    t_del = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_cmp = len(compact_ivf_cells(spark, cells_path, max_files_per_cell=1))
    t_cmp = time.perf_counter() - t0
    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    t0 = time.perf_counter()
    n_hits = ivf_pruned_scan_topk(
        spark, cells_path, cents, queries, k=10, n_probe=4
    ).count()
    t_probe = time.perf_counter() - t0
    print(
        f"| IVF cell-store lifecycle over {n_vecs:,} vectors: codebook "
        f"({t_train:.2f}s), seed 64 cells ({t_write:.2f}s), 25k-id "
        f"takedown ({n_del} cells, {t_del:.2f}s), compact ({n_cmp} "
        f"cells, {t_cmp:.2f}s), 8-query pruned probe ({n_hits} rows, "
        f"{t_probe:.2f}s) | 64-cell store | "
        f"{t_train + t_write + t_del + t_cmp + t_probe:.2f}s |"
    )
    shutil.rmtree(cells_path.rsplit("/", 1)[0], ignore_errors=True)
    emb250.unpersist()
    cents.unpersist()


def main() -> None:
    spark = get_spark(
        app_name="stress-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = load_table(spark, SF, "documents")
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")

    docs20 = replicate(docs, 20, "doc_id")       # 100k docs
    li10 = replicate(li, 10)                     # 6M lineitem rows

    # warm
    build_index(docs).count()

    print("\n## Stress probe (generated by tools/stress_probe.py)\n")
    print("sf0.1 fixtures replicated in-memory: documents x20 (100k docs,")
    print("~5.2M shingles), lineitem x10 (6M rows). local[32].\n")
    print("| operator | output | wall |")
    print("|---|---|---|")
    timed("inverted_index over 100k docs", build_index(docs20))
    timed(
        "minhash_near_dup over 100k docs (20 planted-dup clusters x20 copies)",
        D.minhash_near_dup(docs20),
    )
    # Incremental path: base = 95k docs' state written to disk once,
    # batch = 5k new docs joined against the STORED bands+shingles —
    # batch-sized signature work vs corpus-sized state.
    import tempfile

    state = f"{tempfile.gettempdir()}/mii_stress_minhash_state"
    base, batch = (
        docs20.where(F.col("doc_id") % 20 != 0),
        docs20.where(F.col("doc_id") % 20 == 0),
    )
    t0 = time.perf_counter()
    D.write_minhash_state(base, state)
    write_s = time.perf_counter() - t0
    timed(
        f"minhash_incremental_dedup: 5k-doc batch vs 95k-doc stored state "
        f"(state write {write_s:.2f}s, paid once)",
        D.minhash_incremental_dedup(
            batch,
            spark.read.parquet(f"{state}/bands"),
            spark.read.parquet(f"{state}/shingles"),
        ),
    )
    timed(
        "pricing agg over 6M lineitem",
        li10.groupBy("l_returnflag", "l_linestatus").agg(
            dsum("l_extendedprice", "s"), F.count("*").alias("n")
        ),
    )
    timed(
        "join 6M lineitem x 15k orders + agg",
        li10.join(orders, li10["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(dsum("l_extendedprice", "s")),
    )

    # Zipf-head skew (SURVEY §2.9: term frequency is Zipfian): plant
    # one term in EVERY doc, so its postings group and its term-keyed
    # join partition carry the whole corpus.
    #  * index build: bounded because the shuffled value is ids-only
    #    (map-side partial collect_set compacts each partition to its
    #    distinct ids; the hot reducer merges ~100k longs, not text);
    #  * tf-idf join: the hot term's join partition is what AQE's
    #    skew-join splitting (on by default in session.py) re-plans.
    from mapreduce_inverted_index_spark.operators.term_queries import tf_idf

    docs_skew = docs20.withColumn(
        "text", F.concat_ws(" ", "text", F.lit("zipfhead"))
    )
    timed("inverted_index, 'zipfhead' planted in all 100k docs", build_index(docs_skew))
    timed("tf_idf over skewed corpus (term join, AQE skew split)", tf_idf(docs_skew))

    # All-pairs cosine at 100k docs. Replication drives every fixture
    # term's df to ~20x (40k-100k docs), all far past the cap — the
    # df cut prunes the entire ubiquitous vocabulary, which is the
    # protective behavior (without it Σ df² ≈ 10^10 pairs). Planted
    # letter-suffixed rare terms (500 keys, df=200 each — digits
    # would be stripped by the tokenizer) carry the actual join:
    # 500 × C(200,2) ≈ 10M candidate pairs through the term
    # equi-join + pair aggregate.
    from mapreduce_inverted_index_spark.operators.term_queries import (
        tfidf_cosine_pairs,
    )

    docs_rare = docs20.withColumn(
        "text",
        F.concat_ws(
            " ",
            "text",
            F.expr(
                "concat('rare', translate(cast(doc_id % 500 as string),"
                " '0123456789', 'abcdefghij'))"
            ),
        ),
    )
    timed(
        "tfidf_cosine_pairs, 100k docs, df cap 2000 (10M pairs via 500 planted rare terms)",
        tfidf_cosine_pairs(docs_rare, threshold=0.5, max_df=2000),
    )

    # Late round-6 operators at the same x20 scale: perceptual-hash
    # near-dup (per-byte HOF signature — linear map — then banded
    # equi-join; replication plants 20 exact copies of every doc, so
    # the pair surface is the protective part) and the tokenizer
    # encode (explode + broadcast vocab join + ordered collect over
    # ~5M (doc, pos, id) rows).
    from mapreduce_inverted_index_spark.operators.multimodal import (
        as_media_table,
        media_phash_near_dup,
    )
    from mapreduce_inverted_index_spark.operators.passages import (
        chunk_documents,
    )
    from mapreduce_inverted_index_spark.operators.textstats import encode_docs

    timed(
        "media_phash_near_dup over 100k payloads (20 exact copies each, hamming<=1)",
        media_phash_near_dup(as_media_table(docs20), max_hamming=1),
    )
    timed("vocab encode over 100k docs (~5M token ids)", encode_docs(docs20))
    timed("rag chunking over 100k docs (64/48 overlap)", chunk_documents(docs20))

    # Continuation-session join strategies under manufactured stress.
    #  * salted skew join: events x20 (2M rows) with HALF of all rows
    #    forced onto ONE key — the regime where a plain shuffle join
    #    gives one reducer 1M rows. The salt spreads that key over 32
    #    sub-keys; output is exactly one dim row per event.
    #  * keyless band join: events x20 WITHOUT shifting timestamps —
    #    20 copies of every instant, so pair density is 400x the
    #    fixture's and the grid join must absorb a ~3M-pair output
    #    with bins (not a BNLJ) carrying the work.
    from mapreduce_inverted_index_spark.operators.asof import (
        keyless_band_self_join,
    )
    from mapreduce_inverted_index_spark.operators.skew import salted_skew_join

    events = load_table(spark, SF, "events")
    customer = load_table(spark, SF, "customer")
    ev20 = replicate(events, 20, "event_id")
    ev_hot = ev20.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(42)).otherwise(
            F.col("user_id")
        ),
    )
    timed(
        "salted_skew_join, 2M events, 50% of rows on one key (32 salts)",
        salted_skew_join(
            ev_hot, customer, "user_id", "c_custkey",
            n_salts=32, hot_threshold=10_000, salt_source="event_id",
        ),
    )
    timed(
        "keyless_band_self_join, 2M events, 20 copies per instant, band 2s",
        keyless_band_self_join(ev20, "event_id", "ts", max_gap_seconds=2),
    )

    # Round-8 operators under stress.
    #  * bpe_train: 100k docs, 8 rounds — per-round cost is the
    #    pair-count pass over the DISTINCT-token table, which
    #    replication does NOT grow (same vocabulary x20 counts), so
    #    this measures the loop overhead floor at corpus scale.
    #  * bloom-prefiltered join: 2M fact rows against a selective
    #    3k-key dim — the prefilter drops ~80% of the fact side
    #    before the shuffle.
    #  * delete_from_ivf_cells large-batch text twin: delete_from_index
    #    over the 100k-doc index with a 5k-id batch, each term's
    #    postings filtered in place against one InSet of the ids.
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index,
    )
    from mapreduce_inverted_index_spark.operators.skew import (
        bloom_prefiltered_join,
    )
    from mapreduce_inverted_index_spark.operators.textstats import bpe_train

    t0 = time.perf_counter()
    n_merges = bpe_train(docs20, n_merges=8).count()
    print(
        f"| bpe_train, 8 rounds over 100k docs (distinct-token state) "
        f"| {n_merges} merges | {time.perf_counter() - t0:.2f}s |"
    )
    auto_cust = customer.where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select("c_custkey")
    timed(
        "bloom_prefiltered_join, 2M events vs 3k-key dim (64Ki-bit, k=3)",
        bloom_prefiltered_join(ev20, auto_cust, "user_id", "c_custkey"),
    )
    idx20 = build_index(docs20)
    dead_ids = list(range(0, 100_000, 20))  # 5k ids
    timed(
        "delete_from_index, 5k-id batch via a row-local InSet filter "
        "over the 100k-doc index",
        delete_from_index(idx20, dead_ids),
    )

    #  * bucket-level store takedown: the same 5k-id batch against
    #    the PARTITIONED store (64 buckets) — locate + per-bucket
    #    rewrite + crash-safe commit, measured end-to-end including
    #    the file moves, manifest rename and old-file deletion
    #    (write_index_store build time excluded; it is the
    #    once-per-corpus cost).
    import shutil
    import tempfile

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
        write_index_store,
    )

    store = tempfile.mkdtemp(prefix="mii_stress_store_") + "/idx"
    write_index_store(idx20, store, n_buckets=64)
    t0 = time.perf_counter()
    n_buckets = len(delete_from_index_store(spark, store, dead_ids))
    print(
        f"| delete_from_index_store, 5k-id batch over the 100k-doc "
        f"64-bucket store (locate + rewrite + commit) "
        f"| {n_buckets} buckets rewritten | "
        f"{time.perf_counter() - t0:.2f}s |"
    )
    shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)

    #  * composed ADD/DELETE lifecycle at stress scale (VERDICT r9
    #    ask #4), mirroring tests/test_round9_ops.py's fixture-scale
    #    lifecycle: seed-ingest 2/3 of the corpus, takedown 5k ids,
    #    delta-ingest the remaining 1/3 via the bucket-local merge,
    #    then verify the store equals the batch rebuild of
    #    (ingested minus taken-down). No separate compact phase: the
    #    store re-packs one file per rewritten bucket inside every
    #    merge/delete (pytest-pinned), so packing is maintained by
    #    construction rather than as deferred debt.
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        merge_into_index_store,
    )

    store = tempfile.mkdtemp(prefix="mii_stress_lc_") + "/idx"
    seed = docs20.where(F.col("doc_id") % 3 != 0)
    delta = docs20.where(F.col("doc_id") % 3 == 0)
    t0 = time.perf_counter()
    write_index_store(build_index(seed), store, n_buckets=64)
    t_seed = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_del = len(delete_from_index_store(spark, store, dead_ids))
    t_del = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_add = len(merge_into_index_store(spark, store, build_index(delta)))
    t_add = time.perf_counter() - t0
    t0 = time.perf_counter()
    # verify: store == build_index(seed minus dead, plus delta) — the
    # delta re-adds its third of the corpus AFTER the takedown, so
    # dead ids divisible by 3 are live again (checked at stress
    # scale; cheap: both sides aggregate to ~vocabulary-sized rows
    # before the comparison join)
    expect = build_index(
        docs20.where(
            (F.col("doc_id") % 3 == 0)
            | ~F.col("doc_id").isin(dead_ids)
        )
    ).select("term", "postings", "df")
    got = spark.read.parquet(store).select("term", "postings", "df")
    diverged = got.join(expect, ["term", "postings", "df"], "full_outer")
    n_mismatch = diverged.count() - expect.count()
    t_verify = time.perf_counter() - t0
    print(
        f"| index-store lifecycle over 100k docs: seed-ingest 2/3 "
        f"({t_seed:.2f}s), 5k-id takedown ({n_del} buckets, "
        f"{t_del:.2f}s), delta-ingest 1/3 ({n_add} buckets, "
        f"{t_add:.2f}s), invariant verify ({t_verify:.2f}s) "
        f"| {n_mismatch} rows diverged | "
        f"{t_seed + t_del + t_add + t_verify:.2f}s |"
    )
    shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)


def race() -> None:
    """Decade-scale concurrent reader/writer storm (VERDICT r11 ask
    #5): continuous manifest-resolved reads of a 500k-doc index store
    and a 500k-vector IVF cell store while a takedown + restore +
    compact storm mutates them. Invariant asserted: every read
    resolves to EXACTLY one committed snapshot (its content
    fingerprint is in the committed set) or fails loud — zero mixed
    reads. Appends one SCALING.md-style row per store.

    The unit-scale walk (tests/test_round11_manifest.py /
    test_round12_manifest.py) proves every intermediate commit state;
    this probe proves the same invariant under real decade-scale
    mutation latencies, where the commit windows are seconds wide.
    """
    import os
    import shutil
    import tempfile
    import threading

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.similarity import (
        compact_ivf_cells,
        delete_from_ivf_cells,
        ivf_assign,
        ivf_centroids,
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import open_snapshot

    spark = get_spark(
        app_name="stress-race",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    print("\n### Concurrent reader/writer race at decade scale "
          "(generated by tools/stress_probe.py --race)\n")

    def run_storm(label, seed_fn, fingerprint_fn, mutations) -> None:
        """Readers fingerprint continuously; the main thread commits
        the mutation list; every observed fingerprint must be a
        committed one.

        CONTRACT (ADVICE r12 #5): each seed/mutation callable commits
        exactly ONE reader-visible snapshot — the store mutators here
        (seed, delete, merge, compact, one streaming append
        pass) all publish through a single manifest rename, so the
        after-return fingerprint is the only state a manifest-
        resolved reader can land on. A mutator that refreshed the
        manifest more than once per call would false-FAIL this storm
        (its intermediate commit is reader-legal but never collected);
        keep multi-commit mutations split into one callable per
        commit. Fingerprints are (row count, bit_xor of per-row
        xxhash64 over every column) — order-insensitive row-content
        hashes, so two states can't alias the way the old
        (count, sum(one column)) pair could."""
        committed: "set" = set()
        observed: "list" = []
        errs: "list" = []
        stop = threading.Event()

        t_seed0 = time.perf_counter()
        seed_fn()
        t_seed = time.perf_counter() - t_seed0
        committed.add(fingerprint_fn())

        def reader():
            while not stop.is_set():
                try:
                    observed.append(fingerprint_fn())
                except Exception as e:  # loud kinds only — verified
                    # below; classify on the FULL message (Spark's
                    # FileNotFoundException cause sits thousands of
                    # chars into a Py4JJavaError), store a prefix
                    errs.append(f"{type(e).__name__}: {e}")

        threads = [threading.Thread(target=reader) for _ in range(2)]
        for t in threads:
            t.start()
        t_storm0 = time.perf_counter()
        try:
            for mut in mutations:
                mut()
                committed.add(fingerprint_fn())
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=300)
        t_storm = time.perf_counter() - t_storm0

        mixed = [fp for fp in observed if fp not in committed]
        bad_errs = [
            e[:300] for e in errs
            if not any(
                m in e
                for m in ("mid-swap", "FileNotFound", "does not exist",
                          "PATH_NOT_FOUND", "FAILED_READ_FILE")
            )
        ]
        print(
            f"| {label}: seed ({t_seed:.2f}s), {len(mutations)}-mutation "
            f"storm ({t_storm:.2f}s), {len(observed)} concurrent reads, "
            f"{len(errs)} loud retry-able errors | "
            f"{len(mixed)} mixed reads, {len(bad_errs)} silent-partial "
            f"errors | {'PASS' if not mixed and not bad_errs else 'FAIL'} |"
        )
        assert not mixed, f"{label}: mixed snapshots observed: {mixed[:3]}"
        assert not bad_errs, f"{label}: non-loud reader errors: {bad_errs[:3]}"

    docs = load_table(spark, SF, "documents")
    docs100 = replicate_wide(docs, 100, "doc_id").persist()
    docs100.count()

    print("| store + storm | race outcome | verdict |")
    print("|---|---|---|")

    def content_fp(tag, df):
        cols = ", ".join(df.columns)
        row = df.agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
        ).collect()[0]
        return (tag, row["n"], row["h"])

    # ---- text index store: 500k docs, 64 buckets
    root = tempfile.mkdtemp(prefix="mii_race_idx_")
    idx_path = f"{root}/idx"
    restore_ids = list(range(0, 500_000, 40))  # 12.5k ids
    restore_docs = docs100.where(F.col("doc_id").isin(restore_ids))

    def idx_fp():
        return content_fp("idx", read_index_store(spark, idx_path))

    run_storm(
        "text index store, 500k docs / 64 buckets",
        lambda: write_index_store(build_index(docs100), idx_path,
                                  n_buckets=64),
        idx_fp,
        [
            lambda: delete_from_index_store(spark, idx_path, restore_ids),
            lambda: merge_into_index_store(
                spark, idx_path, build_index(restore_docs)
            ),
            lambda: delete_from_index_store(spark, idx_path, restore_ids),
        ],
    )
    shutil.rmtree(root, ignore_errors=True)

    # ---- text index store: streaming APPEND storm (VERDICT r12 ask
    # #6): the same reader threads race maintain_index_available_now
    # passes — the path whose manifest refresh rides inside the fold's
    # lease (streaming/ingest.py). Store at 500k docs; each mutation
    # drops a batch of new corpus files and runs one AvailableNow pass
    # (= one micro-batch = one bucket-merge = one manifest rename = one
    # reader-visible commit, per the run_storm contract).
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_index_available_now,
        maintain_semantic_cells_available_now,
    )

    root = tempfile.mkdtemp(prefix="mii_race_append_")
    idx_path = f"{root}/idx"
    corpus = f"{root}/corpus"
    ckpt = f"{root}/ckpt"
    os.makedirs(corpus)

    def drop_corpus_batch(k, n_files=40):
        for i in range(n_files):
            body = f"appendstorm batch{k} file{i} " + " ".join(
                f"w{k}x{j}" for j in range(60)
            )
            with open(f"{corpus}/b{k}_{i}.txt", "w") as f:
                f.write(body)

    def append_pass(k):
        drop_corpus_batch(k)
        maintain_index_available_now(spark, corpus, idx_path, ckpt)

    run_storm(
        "text index store, 500k docs, 3 streaming-append passes",
        lambda: write_index_store(build_index(docs100), idx_path,
                                  n_buckets=64),
        lambda: content_fp("idx-app", read_index_store(spark, idx_path)),
        [lambda k=k: append_pass(k) for k in range(3)],
    )
    shutil.rmtree(root, ignore_errors=True)
    docs100.unpersist()

    # ---- IVF cell store: 500k vectors, 64 cells
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    emb250 = replicate_wide(emb, 250, "vec_id").persist()
    emb250.count()
    root = tempfile.mkdtemp(prefix="mii_race_ivf_")
    cells_path = f"{root}/cells"
    cents = ivf_centroids(emb250, n_cells=64).persist()
    cents.count()

    def ivf_fp():
        return content_fp("ivf", open_snapshot(spark, cells_path, "cell")[0])

    run_storm(
        "IVF cell store, 500k vectors / 64 cells",
        lambda: write_ivf_cells(ivf_assign(emb250, cents), cells_path),
        ivf_fp,
        [
            lambda: delete_from_ivf_cells(
                spark, cells_path, list(range(0, 500_000, 40))
            ),
            lambda: compact_ivf_cells(spark, cells_path,
                                      max_files_per_cell=1),
            lambda: delete_from_ivf_cells(
                spark, cells_path, list(range(1, 500_000, 40))
            ),
        ],
    )
    shutil.rmtree(root, ignore_errors=True)

    # ---- semantic cell store: streaming APPEND storm, STREAM-BORN
    # store (VERDICT r12 ask #6). The seed here is the loop's own
    # first pass over a 500k-embedding landing batch — the store is
    # created by store.append_partitions, which writes the reader
    # manifest on the FIRST append (before r13 a stream-born
    # store stayed manifest-less until its first delete/compact, and
    # a directory-listing probe racing a multi-cell append could see
    # some cells' new batch file but not others — exactly the mixed
    # read this storm asserts never happens). max_files_per_cell=None
    # keeps each pass to one visible commit (inline compaction would
    # be a second, false-FAILing the storm contract).
    root = tempfile.mkdtemp(prefix="mii_race_sem_")
    land = f"{root}/landing"
    state = f"{root}/state"
    ckpt = f"{root}/ckpt"
    os.makedirs(land)

    def sem_pass(k):
        # new vec_ids per batch, disjoint from the seed
        (
            emb250.limit(2_000)
            .withColumn(
                "vec_id",
                F.col("vec_id") + F.lit(10_000_000 * (k + 1)),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(land)
        )
        maintain_semantic_cells_available_now(
            spark, land, state, ckpt, n_cells=64, tau=0.4,
            max_files_per_cell=None,
        )

    def sem_seed():
        emb250.coalesce(8).write.mode("append").parquet(land)
        maintain_semantic_cells_available_now(
            spark, land, state, ckpt, n_cells=64, tau=0.4,
            max_files_per_cell=None,
        )

    run_storm(
        "semantic cell store, 500k vectors stream-born, 3 append passes",
        sem_seed,
        lambda: content_fp(
            "sem", open_snapshot(spark, f"{state}/cells", "cell")[0]
        ),
        [lambda k=k: sem_pass(k) for k in range(3)],
    )
    shutil.rmtree(root, ignore_errors=True)
    emb250.unpersist()
    cents.unpersist()


if __name__ == "__main__":
    if "--race" in sys.argv:
        race()
    elif "--decade" in sys.argv:
        decade()
    else:
        main()
