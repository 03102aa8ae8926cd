"""Round-10 hardening: the fully-emptied bucketed index store.

A takedown batch that erases every remaining doc drops every
``bucket=`` directory (the store's commit deletes a partition whose
last term dies), leaving only the reader manifest, which names no
files and still records the schema and ``n_buckets``. That store
must stay a STORE: reads see an empty index, further deletes no-op,
and re-ingest rebuilds the bucketed layout in place.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

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


def _crash_at_second_commit_rename(monkeypatch):
    """Monkeypatch os.rename inside the commit to die at its second
    call: one staged file has moved into its live partition directory,
    its checksum has not, and the manifest still names the old files."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    real_rename = os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash mid-commit")
        real_rename(src, dst)

    monkeypatch.setattr(store_mod.os, "rename", dying_rename)


def _unnamed_files(path, part_col):
    """Files under the store's partition directories that its manifest
    does not name (a named file's ``.crc`` counts as named)."""
    from mapreduce_inverted_index_spark.operators.store import read_manifest

    parts = read_manifest(path, part_col)["parts"]
    out = []
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{part_col}="):
            continue
        named = set(parts.get(d.split("=", 1)[1], ()))
        named |= {f".{fn}.crc" for fn in named}
        out += [f"{d}/{fn}" for fn in os.listdir(f"{path}/{d}") if fn not in named]
    return out


def test_crash_before_commit_point_restores_prebatch(
    spark, tmp_path, monkeypatch
):
    """A crash before the manifest rename leaves the EXACT pre-batch
    store readable, even before any recovery; the next writer's entry
    deletes the crashed commit's staged and moved files, and the
    replayed delete then converges."""
    import pytest

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
    path = str(tmp_path / "store")
    write_index_store(build_index(docs), path)
    before = _index_rows(read_index_store(spark, path))

    _crash_at_second_commit_rename(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_index_store(spark, path, [0])
    monkeypatch.undo()

    assert _index_rows(read_index_store(spark, path)) == before
    assert _unnamed_files(path, "bucket")  # the crashed commit's moves
    assert [d for d in os.listdir(str(tmp_path)) if d.startswith("store.tmp-")]

    # a ghost delete commits nothing; its entry alone heals the store
    assert delete_from_index_store(spark, path, [999]) == []
    assert _index_rows(read_index_store(spark, path)) == before
    assert _unnamed_files(path, "bucket") == []
    assert not [
        d for d in os.listdir(str(tmp_path)) if d.startswith("store.tmp-")
    ]

    # the replayed batch now converges
    delete_from_index_store(spark, path, [0])
    want = _index_rows(build_index(docs.where(F.col("doc_id") != 0)))
    assert _index_rows(read_index_store(spark, path)) == want


def test_takedown_loop_self_heals_after_mid_swap_crash(
    spark, tmp_path, monkeypatch
):
    """End-to-end self-healing: a takedown pass crashes mid-commit (tmp
    orphaned, one staged file moved in but unnamed); simply
    RESTARTING the maintenance loop heals the store at op entry and
    replays the uncommitted batch — no manual step, and the invariant
    holds."""
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

    _crash_at_second_commit_rename(monkeypatch)
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
        if d.startswith("index.tmp-")
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
    """The IVF cell store shares the one commit; a takedown that
    crashes mid-commit must self-heal at the next op entry (the
    entry deletion runs inside delete_from_ivf_cells), and the
    replayed delete must converge to assign-of-the-survivors."""
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
            raise OSError("injected crash mid-commit")
        real_rename(src, dst)

    monkeypatch.setattr(store_mod.os, "rename", dying_rename)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_ivf_cells(spark, path, dead)
    monkeypatch.undo()

    # replay: the entry deletes the crashed commit's files, then the
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
        if d.startswith("cells.tmp-")
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


def _mg_drop(land, name, text):
    """Land one single-document parquet file for the MG fold."""
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


def _mg_counts(spark, state):
    return {(r["term"], r["n"]) for r in spark.read.parquet(state).collect()}


def test_mg_state_survives_mid_commit_crash(spark, tmp_path, monkeypatch):
    """The MG heavy-hitter state's commit used to be rmtree-then-
    rename: a crash between the two lost the live state, and the
    replay then silently merged into EMPTY state (wrong counts, no
    error). A crash right AFTER the manifest rename is the window
    that remains: the fold is committed but its micro-batch is not,
    so the stream replays it. The state keeps the committed fold, and
    the replay folds nothing more."""
    import pytest

    from mapreduce_inverted_index_spark.operators.store import MANIFEST_NAME
    from mapreduce_inverted_index_spark.streaming import sketches as sketches_mod
    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
    )

    land = tmp_path / "landing"
    land.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # pass 1: seed the state
    _mg_drop(land, "a.parquet", "alpha alpha beta")
    maintain_frequent_terms_available_now(
        spark, str(land), state, ckpt, k=25, glob="*.parquet"
    )
    assert ("alpha", 2) in _mg_counts(spark, state)

    # pass 2 dies right after its manifest rename
    _mg_drop(land, "b.parquet", "alpha gamma")
    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if dst.endswith(MANIFEST_NAME):
            raise OSError("injected crash after the mg commit point")

    monkeypatch.setattr(sketches_mod.os, "rename", dying_rename)
    with pytest.raises(Exception, match="injected crash"):
        maintain_frequent_terms_available_now(
            spark, str(land), state, ckpt, k=25, glob="*.parquet"
        )
    monkeypatch.undo()
    # the fold is committed: alpha counts both batches
    assert ("alpha", 3) in _mg_counts(spark, state)

    # restart: the stream replays batch 2, which the state already
    # holds — it folds exactly once (a second fold reads alpha=4)
    maintain_frequent_terms_available_now(
        spark, str(land), state, ckpt, k=25, glob="*.parquet"
    )
    assert _mg_counts(spark, state) == {("alpha", 3), ("beta", 1), ("gamma", 1)}


def test_mg_fold_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed micro-batch (its state commit landed, its
    checkpoint commit did not — simulated by deleting the batch's
    commit marker) must not fold it twice: the fold records the
    micro-batch id it committed and skips a batch it already holds."""
    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
    )

    land = tmp_path / "landing"
    land.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for name, text in (("a.parquet", "alpha alpha beta"), ("b.parquet", "alpha gamma")):
        _mg_drop(land, name, text)
        maintain_frequent_terms_available_now(
            spark, str(land), state, ckpt, k=25, glob="*.parquet"
        )
    folded = {("alpha", 3), ("beta", 1), ("gamma", 1)}
    assert _mg_counts(spark, state) == folded

    # the crash state, on a copy of the checkpoint (the driver JVM's
    # commit-log guard flags external edits to one it already ran)
    ckpt2 = str(tmp_path / "ckpt_after_crash")
    shutil.copytree(ckpt, ckpt2)
    commits = sorted(
        f for f in os.listdir(f"{ckpt2}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt2}/commits/{commits[-1]}")
    crc = f"{ckpt2}/commits/.{commits[-1]}.crc"  # hadoop checksum twin
    if os.path.exists(crc):
        os.remove(crc)
    maintain_frequent_terms_available_now(
        spark, str(land), state, ckpt2, k=25, glob="*.parquet"
    )
    assert _mg_counts(spark, state) == folded


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


def _seed_index(spark, path, rows):
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )

    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    write_index_store(build_index(docs), path, n_buckets=4)


def _merge_new_bucket(spark, path):
    """Merge doc 3 into a store of "alphaword" and "gammaword" (bucket
    2 of 4); its "zetaaaa" hashes into bucket 1, which the store lacks."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        merge_into_index_store,
    )

    delta = spark.createDataFrame(
        [(3, "alphaword zetaaaa")], "doc_id bigint, text string"
    )
    merge_into_index_store(spark, path, build_index(delta))


def _delete_three(spark, path):
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
    )

    delete_from_index_store(spark, path, [0, 3, 5])


def _append_cells(ids, batch_id):
    def append(spark, path):
        from mapreduce_inverted_index_spark.operators.store import (
            append_partitions,
        )

        vecs = spark.createDataFrame(
            [(i, i % 3, [float(i), 1.0]) for i in ids],
            "vec_id bigint, cell int, vec array<double>",
        )
        append_partitions(vecs, path, "cell", batch_id)

    return append


_LETTERS = [(i, f"alpha{chr(97 + i)} common") for i in range(8)]

# name -> (partition column, set up the pre-batch state, the batch)
_SWEEP_CASES = {
    "seed": (
        "bucket",
        lambda spark, path: None,
        lambda spark, path: _seed_index(spark, path, _LETTERS),
    ),
    "reseed": (
        "bucket",
        lambda spark, path: _seed_index(spark, path, _LETTERS),
        lambda spark, path: _seed_index(
            spark, path, [(1, "alphaword"), (2, "betaword common")]
        ),
    ),
    "merge_new_bucket": (
        "bucket",
        lambda spark, path: _seed_index(
            spark, path, [(1, "alphaword"), (2, "alphaword gammaword")]
        ),
        _merge_new_bucket,
    ),
    "delete": (
        "bucket",
        lambda spark, path: _seed_index(spark, path, _LETTERS),
        _delete_three,
    ),
    "append": ("cell", _append_cells(range(0, 6), 0), _append_cells(range(6, 10), 1)),
}

# the filesystem calls that change a store; the lease's own are
# filtered out by path (a death there moves no data)
_FS_MUTATIONS = (
    (os, "rename"),
    (os, "replace"),
    (os, "remove"),
    (os, "makedirs"),
    (shutil, "rmtree"),
)


def _count_or_crash(monkeypatch, root, crash_at=None):
    """Patch every mutating filesystem call on a path under ``root``
    to count itself, and to raise at call ``crash_at``."""
    calls = {"n": 0}
    for mod, name in _FS_MUTATIONS:

        def fake(p, *a, _real=getattr(mod, name), **k):
            if str(p).startswith(root) and ".mutation-lease" not in str(p):
                calls["n"] += 1
                if calls["n"] == crash_at:
                    raise OSError(f"injected crash at call {crash_at}")
            return _real(p, *a, **k)

        monkeypatch.setattr(mod, name, fake)
    return calls


@pytest.mark.parametrize("case", sorted(_SWEEP_CASES))
def test_crash_sweep_every_rename_point_recovers(
    spark, tmp_path, monkeypatch, case
):
    """Crash the batch at EVERY mutating filesystem call of its commit
    (the moves, the manifest rename, the deletions), then require:
    a reader sees exactly the pre-batch or the post-batch rows; the
    next writer's entry (a no-op rewrite) leaves one of those two
    states and no ``.tmp-*`` sibling; the replayed batch converges
    with no file the manifest does not name. No crash point is
    hand-picked, so a window a future change opens between any two
    calls is found."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    part_col, prepare, batch = _SWEEP_CASES[case]

    def rows(path):
        try:
            df = store_mod.open_snapshot(spark, path, part_col)[0]
        except FileNotFoundError:
            return None  # not a store
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        )

    def no_tmp(root):
        return not [d for d in os.listdir(root) if ".tmp-" in d]

    # count the calls of a clean run first
    root = str(tmp_path / "count")
    path = f"{root}/store"
    os.makedirs(root)
    prepare(spark, path)
    pre = rows(path)
    calls = _count_or_crash(monkeypatch, root)
    batch(spark, path)
    monkeypatch.undo()
    post = rows(path)
    assert post != pre and calls["n"] >= 3, (case, calls)

    for k in range(1, calls["n"] + 1):
        root = str(tmp_path / f"crash{k}")
        path = f"{root}/store"
        os.makedirs(root)
        prepare(spark, path)
        _count_or_crash(monkeypatch, root, crash_at=k)
        with pytest.raises(OSError, match="injected crash"):
            batch(spark, path)
        monkeypatch.undo()
        where = f"{case}: crash at call {k} of {calls['n']}"
        assert rows(path) in (pre, post), where

        # the next writer's entry: a rewrite whose plan touches nothing
        try:
            store_mod.rewrite_partitions(
                spark, path, part_col, lambda snap, m: ([], None)
            )
        except FileNotFoundError:
            assert pre is None, where  # only a first seed leaves no store
        assert rows(path) in (pre, post), where
        assert no_tmp(root), where

        batch(spark, path)
        assert rows(path) == post, where
        assert no_tmp(root) and _unnamed_files(path, part_col) == [], where
