"""Round-10 hardening: the fully-emptied bucketed index store.

A takedown batch that erases every remaining doc drops every
``bucket=`` directory (``swap_partition_dirs`` retires a partition
whose last term dies), leaving only the reader manifest, which names
no files and still records the schema and ``n_buckets``. That store
must stay a STORE: reads see an empty index, further deletes no-op,
and re-ingest rebuilds the bucketed layout in place.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _index_rows(df):
    return sorted(
        (r["term"], tuple(r["postings"]), r["df"])
        for r in df.collect()
    )


def _bucket_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith("bucket="))


def test_emptied_store_reads_as_empty_index(spark, tmp_path):
    """Deleting EVERY doc leaves a manifest-only store that reads as
    an empty index; probes return empty; a further delete is a no-op."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        term_lookup_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import read_manifest

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma alpha")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)
    assert _bucket_dirs(path)

    delete_from_index_store(spark, path, [1, 2, 3])
    assert _bucket_dirs(path) == []
    # the manifest is the layout authority: no files, arity kept
    manifest = read_manifest(path, "bucket")
    assert manifest["parts"] == {} and manifest["n_buckets"] == 16
    assert read_index_store(spark, path).count() == 0
    assert term_lookup_store(spark, path, ["alpha", "beta"]).count() == 0
    # a delete against the emptied store is a clean no-op, not a crash
    assert delete_from_index_store(spark, path, [7]) == []


def test_emptied_store_reingest_rebuilds_bucketed_layout(spark, tmp_path):
    """merge_into_index_store against the emptied store rebuilds the
    bucketed layout in place (empty base), with the manifest's pinned
    arity — and the result equals a fresh build."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        read_index_store,
        write_index_store,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(10, "delta alpha"), (11, "epsilon")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(old), path)
    delete_from_index_store(spark, path, [1, 2])
    assert _bucket_dirs(path) == []

    affected = merge_into_index_store(spark, path, build_index(new))
    assert affected  # delta buckets were written
    assert _bucket_dirs(path)  # layout is bucketed again
    assert _index_rows(read_index_store(spark, path)) == _index_rows(
        build_index(new)
    )


def test_streaming_loops_route_emptied_store_through_store_paths(
    spark, tmp_path
):
    """End-to-end through the maintenance loops: takedown of every doc,
    then a takedown pass against the emptied store (must no-op, not
    crash), then re-ingest (must rebuild the BUCKETED layout in
    place). Invariant: stored index == build_index(ingested minus
    taken-down) at every step."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_index_available_now,
        maintain_takedowns_available_now,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id bigint, text string"
    )
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt_del = str(tmp_path / "ckpt_del")
    ckpt_add = str(tmp_path / "ckpt_add")
    corpus = str(tmp_path / "corpus")
    write_index_store(build_index(docs), index_dir)

    # pass 1: take down everything
    spark.createDataFrame([(1,), (2,)], "doc_id bigint").coalesce(
        1
    ).write.mode("append").parquet(queue)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt_del)
    assert _bucket_dirs(index_dir) == []

    # pass 2: another takedown against the emptied store — a no-op,
    # NOT a schema-inference crash
    spark.createDataFrame([(99,)], "doc_id bigint").coalesce(
        1
    ).write.mode("append").parquet(queue)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt_del)
    assert _bucket_dirs(index_dir) == []

    # pass 3: re-ingest — must rebuild the BUCKETED layout in place
    # (the ingest loop streams text files with provenance-hash ids)
    from mapreduce_inverted_index_spark.streaming.ingest import (
        streamed_doc_ids,
    )

    os.makedirs(corpus)
    with open(f"{corpus}/x.txt", "w") as f:
        f.write("delta epsilon")
    with open(f"{corpus}/y.txt", "w") as f:
        f.write("alpha")
    maintain_index_available_now(spark, corpus, index_dir, ckpt_add)
    assert _bucket_dirs(index_dir)
    batch_corpus = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(corpus)
        .select(
            F.input_file_name().alias("source"),
            F.col("value").alias("text"),
        )
    )
    assert _index_rows(read_index_store(spark, index_dir)) == _index_rows(
        build_index(streamed_doc_ids(batch_corpus))
    )


def _swap_crash_after_one_aside(monkeypatch):
    """Monkeypatch os.rename inside the swap to die after the first
    rename-ASIDE (before its rename-in) — the worst partial-commit
    point: the live store is missing a partition whose only copies
    sit inside the orphaned tmp."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    real_rename = os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(store_mod.os, "rename", dying_rename)


def test_recover_partition_swaps_rolls_back_to_prebatch(
    spark, tmp_path, monkeypatch
):
    """After a mid-swap crash, recover_partition_swaps restores the
    EXACT pre-batch store (rolled-back partitions + discarded
    rewrites), removes the orphaned tmp, and the replayed delete then
    converges — the executable form of the 'manual reconciliation'
    the swap docstring used to leave to an operator."""
    import pytest

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        recover_partition_swaps,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(8)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)
    before = _index_rows(read_index_store(spark, path))

    _swap_crash_after_one_aside(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_index_store(spark, path, [0])
    monkeypatch.undo()

    recovered = recover_partition_swaps(path, "bucket")
    assert recovered, "the orphaned tmp must be found and recovered"
    assert _index_rows(read_index_store(spark, path)) == before
    assert not [
        d
        for d in os.listdir(str(tmp_path))
        if d.startswith("store.tmp-swap-")
    ]
    # idempotent when nothing is orphaned
    assert recover_partition_swaps(path, "bucket") == []

    # the replayed batch now converges
    delete_from_index_store(spark, path, [0])
    want = _index_rows(build_index(docs.where(F.col("doc_id") != 0)))
    assert _index_rows(read_index_store(spark, path)) == want


def test_takedown_loop_self_heals_after_mid_swap_crash(
    spark, tmp_path, monkeypatch
):
    """End-to-end self-healing: a takedown pass crashes MID-SWAP (tmp
    orphaned, one partition half-moved); simply RESTARTING the
    maintenance loop recovers the store at op entry and replays the
    uncommitted batch — no manual step, and the invariant holds."""
    import pytest

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(8)],
        "doc_id bigint, text string",
    )
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt = str(tmp_path / "ckpt")
    write_index_store(build_index(docs), index_dir)
    spark.createDataFrame([(0,), (3,)], "doc_id bigint").coalesce(
        1
    ).write.mode("append").parquet(queue)

    _swap_crash_after_one_aside(monkeypatch)
    with pytest.raises(Exception, match="injected crash"):
        maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    monkeypatch.undo()

    # restart the loop: entry-time recovery + checkpoint replay
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    want = _index_rows(
        build_index(docs.where(~F.col("doc_id").isin([0, 3])))
    )
    assert _index_rows(read_index_store(spark, index_dir)) == want
    assert not [
        d
        for d in os.listdir(str(tmp_path))
        if d.startswith("index.tmp-swap-")
    ]


def test_takedown_loop_refuses_flat_index_and_keeps_its_batch(
    spark, tmp_path
):
    """A FLAT parquet index is not a store: the takedown pass must
    fail loud (no manifest, so the delete would otherwise match no
    ``bucket=`` dirs and checkpoint its ids away as a silent no-op),
    leave the directory untouched, and NOT commit the batch — after a
    reseed as a store the same queue files fold."""
    import pytest

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(6)],
        "doc_id bigint, text string",
    )
    index_dir = str(tmp_path / "index")
    queue = str(tmp_path / "queue")
    ckpt = str(tmp_path / "ckpt")
    build_index(docs).write.parquet(index_dir)  # FLAT layout
    before = sorted(os.listdir(index_dir))
    spark.createDataFrame([(0,), (2,)], "doc_id bigint").coalesce(
        1
    ).write.mode("append").parquet(queue)

    with pytest.raises(Exception, match="write_index_store"):
        maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    assert sorted(os.listdir(index_dir)) == before

    # reseed as a store; the uncommitted batch replays and folds
    write_index_store(build_index(docs), index_dir)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    want = _index_rows(build_index(docs.where(~F.col("doc_id").isin([0, 2]))))
    assert _index_rows(read_index_store(spark, index_dir)) == want


def test_ivf_cell_store_self_heals_after_mid_swap_crash(
    spark, tmp_path, monkeypatch
):
    """The IVF cell store shares the partition-dir swap; a takedown
    that crashes mid-swap must self-heal at the next op entry
    (recover_partition_swaps runs inside delete_from_ivf_cells), and
    the replayed delete must converge to assign-of-the-survivors."""
    import pytest

    from mapreduce_inverted_index_spark.operators import store as store_mod
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
    dead = [r["vec_id"] for r in assigned.limit(5).collect()]

    real_rename = os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(store_mod.os, "rename", dying_rename)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_ivf_cells(spark, path, dead)
    monkeypatch.undo()

    # replay: entry-time recovery rolls the store back, then the
    # delete applies cleanly
    delete_from_ivf_cells(spark, path, dead)
    got = sorted(
        r["vec_id"] for r in spark.read.parquet(path).collect()
    )
    want = sorted(
        r["vec_id"]
        for r in assigned.where(~F.col("vec_id").isin(dead)).collect()
    )
    assert got == want
    assert not [
        d
        for d in os.listdir(str(tmp_path))
        if d.startswith("cells.tmp-swap-")
    ]


def test_half_seeded_store_fails_loud_not_flat_rebuild(spark, tmp_path):
    """A write_index_store that died between its data write and its
    manifest commit leaves bucket dirs with no manifest. That is not a
    store: both mutators fail loud naming the re-seed step instead of
    guessing the hash arity or treating the directory as flat, the
    directory is left as it was, and the reseed restores a working
    store (the readers' refusal: test_manifest_less_store_fails_loud)."""
    import pytest

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        read_index_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import MANIFEST_NAME

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)
    os.remove(f"{path}/{MANIFEST_NAME}")  # the simulated crash state
    dirs = _bucket_dirs(path)

    delta = build_index(
        spark.createDataFrame([(9, "delta")], "doc_id bigint, text string")
    )
    with pytest.raises(FileNotFoundError, match="write_index_store"):
        merge_into_index_store(spark, path, delta)
    with pytest.raises(FileNotFoundError, match="write_index_store"):
        delete_from_index_store(spark, path, [1])
    assert _bucket_dirs(path) == dirs

    write_index_store(build_index(docs), path)
    delete_from_index_store(spark, path, [1])
    want = _index_rows(build_index(docs.where(F.col("doc_id") != 1)))
    assert _index_rows(read_index_store(spark, path)) == want


def test_mg_state_survives_mid_commit_crash(spark, tmp_path, monkeypatch):
    """The MG heavy-hitter state's commit used to be rmtree-then-
    rename: a crash between the two lost the live state, and the
    replay then silently merged into EMPTY state (wrong counts, no
    error). With the swap + entry recovery, the same crash rolls back
    and the replayed batch folds into the intact prior state."""
    import pytest

    from mapreduce_inverted_index_spark.streaming import sketches as sketches_mod
    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
    )

    land = tmp_path / "landing"
    land.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, text):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([1], pa.int64()),
                    "text": pa.array([text], pa.string()),
                }
            ),
            str(land / name),
        )

    def counts():
        return {
            (r["term"], r["n"])
            for r in spark.read.parquet(state).collect()
        }

    # pass 1: seed the state
    drop("a.parquet", "alpha alpha beta")
    maintain_frequent_terms_available_now(
        spark, str(land), state, ckpt, k=25, glob="*.parquet"
    )
    seeded = counts()
    assert ("alpha", 2) in seeded

    # pass 2 crashes between rename-aside and rename-in
    drop("b.parquet", "alpha gamma")
    real_rename = os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:  # the rename-ASIDE of the live state
            real_rename(src, dst)
            raise OSError("injected crash mid-mg-commit")
        real_rename(src, dst)

    monkeypatch.setattr(sketches_mod.os, "rename", dying_rename)
    with pytest.raises(Exception, match="injected crash"):
        maintain_frequent_terms_available_now(
            spark, str(land), state, ckpt, k=25, glob="*.parquet"
        )
    monkeypatch.undo()
    # the bad window: the live partition is gone
    assert not os.path.isdir(f"{state}/part=0")

    # restart: recovery restores the seeded state, replay folds batch
    # 2 exactly once — alpha counts BOTH batches (the old commit lost
    # batch 1 here and reported alpha=1)
    maintain_frequent_terms_available_now(
        spark, str(land), state, ckpt, k=25, glob="*.parquet"
    )
    assert ("alpha", 3) in counts()


def test_semantic_cells_replay_is_idempotent(spark, tmp_path):
    """Replaying an uncommitted micro-batch (crash after the sink
    writes, before the checkpoint commit — simulated by deleting the
    batch's commit marker) must NOT duplicate rows: the batch-named
    publish overwrites its own files, and the dup recompute excludes
    the crashed attempt's own cells file from 'prior state'."""
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    land = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # pass 1 seeds codebook + cells; pass 2 produces dups vs state
    emb.where(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, n_cells=4, tau=0.2, max_files_per_cell=None
    )
    emb.where(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt, n_cells=4, tau=0.2, max_files_per_cell=None
    )

    def snap(d):
        df = spark.read.parquet(f"{state}/{d}")
        return sorted(map(tuple, df.drop("embedding", "vec").collect()))

    cells_before = snap("cells")
    dups_before = snap("dups")
    assert cells_before and dups_before  # both sinks have rows

    # simulate the crash: batch 1's sink writes landed but its commit
    # marker never did — the stream must replay it on restart. The
    # checkpoint is COPIED first because the driver JVM's commit-log
    # guard (rightly) flags external edits to a checkpoint it already
    # ran; the copy is the same on-disk state a restarted process
    # would see.
    import shutil

    ckpt2 = str(tmp_path / "ckpt_after_crash")
    shutil.copytree(ckpt, ckpt2)
    commits = sorted(
        f for f in os.listdir(f"{ckpt2}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt2}/commits/{commits[-1]}")
    crc = f"{ckpt2}/commits/.{commits[-1]}.crc"  # hadoop checksum twin
    if os.path.exists(crc):
        os.remove(crc)
    maintain_semantic_cells_available_now(
        spark, land, state, ckpt2, n_cells=4, tau=0.2, max_files_per_cell=None
    )
    assert snap("cells") == cells_before  # no duplicated assignments
    assert snap("dups") == dups_before  # no duplicated matches


def test_crash_sweep_every_rename_point_recovers(spark, tmp_path, monkeypatch):
    """Systematic version of the hand-picked crash points: inject the
    crash at EVERY os.rename call a bucketed takedown performs (the
    swap does up to two renames per affected partition), then recover
    + replay, and require exact convergence each time. If a future
    change adds an unprotected window between any two renames, this
    sweep finds it without anyone hand-picking the point."""
    import pytest

    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(8)],
        "doc_id bigint, text string",
    )
    dead = [0, 3, 5]
    want = _index_rows(build_index(docs.where(~F.col("doc_id").isin(dead))))
    real_rename = os.rename

    # count the renames of a clean run first
    path0 = str(tmp_path / "count")
    write_index_store(build_index(docs), path0)
    calls = {"n": 0}

    def counting_rename(src, dst):
        calls["n"] += 1
        real_rename(src, dst)

    monkeypatch.setattr(store_mod.os, "rename", counting_rename)
    delete_from_index_store(spark, path0, dead)
    monkeypatch.undo()
    n_renames = calls["n"]
    assert n_renames >= 2  # at least one aside+in pair

    for k in range(1, n_renames + 1):
        path = str(tmp_path / f"sweep{k}")
        write_index_store(build_index(docs), path)
        state = {"n": 0}

        def dying_rename(src, dst, _state=state, _k=k):
            _state["n"] += 1
            if _state["n"] == _k:
                raise OSError(f"injected crash at rename {_k}")
            real_rename(src, dst)

        monkeypatch.setattr(store_mod.os, "rename", dying_rename)
        with pytest.raises(OSError, match="injected crash"):
            delete_from_index_store(spark, path, dead)
        monkeypatch.undo()

        # replay: entry-time recovery + the delete applied again
        delete_from_index_store(spark, path, dead)
        assert _index_rows(read_index_store(spark, path)) == want, (
            f"crash at rename {k} did not recover"
        )
