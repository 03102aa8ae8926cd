"""Atomic reader manifest for the partitioned stores (VERDICT r10
ask #4).

A READER that listed the store during a commit could see a mixed
view: some partitions pre-batch, some post, some absent — silently.
Readers now resolve one committed snapshot through
``_mii_manifest.json``, whose rename is every writer's one commit
point: concurrent with a commit they return exactly the pre-batch or
post-batch state — never a mix. This file drives the store through
every intermediate commit state (crash-injection style) and asserts
that invariant, plus the manifest's life across crashes.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F


def _rows(df) -> "set[tuple]":
    return {
        (r["term"], tuple(r["postings"]), r["df"])
        for r in df.select("term", "postings", "df").collect()
    }


def _seed(spark, path, n=8):
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{chr(97 + i)} common") for i in range(n)],
        "doc_id bigint, text string",
    )
    write_index_store(build_index(docs), path, n_buckets=4)
    return docs


def test_manifest_written_by_seed_and_refreshed_by_mutations(spark, tmp_path):
    import json

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import MANIFEST_NAME

    path = str(tmp_path / "store")
    _seed(spark, path)
    mpath = f"{path}/{MANIFEST_NAME}"
    assert os.path.isfile(mpath)
    with open(mpath) as f:
        m1 = json.load(f)
    assert m1["part_col"] == "bucket" and m1["parts"]
    # every named file exists, and every live data file is named
    for k, fns in m1["parts"].items():
        for fn in fns:
            assert os.path.isfile(f"{path}/bucket={k}/{fn}")
    delete_from_index_store(spark, path, [0])
    with open(mpath) as f:
        m2 = json.load(f)
    assert m2["version"] != m1["version"]
    live = {
        d.split("=", 1)[1]: sorted(
            fn
            for fn in os.listdir(f"{path}/{d}")
            if not fn.startswith(("_", "."))
        )
        for d in os.listdir(path)
        if d.startswith("bucket=")
    }
    assert {k: sorted(v) for k, v in m2["parts"].items()} == live


def test_reader_never_sees_mixed_view_across_swap_states(spark, tmp_path):
    """Drive the commit's intermediate states by hand (the states a
    crash or a concurrent reader can observe) and assert the
    manifest-resolving readers return the OLD snapshot until the
    manifest rename and the NEW one from it on — never a partial or
    mixed result, and never an error."""
    import shutil
    import uuid

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        term_lookup_store,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        refresh_manifest,
    )

    path = str(tmp_path / "store")
    docs = _seed(spark, path)
    before = _rows(read_index_store(spark, path))

    # Build the post-delete state the way the commit does, but stop at
    # each intermediate point. Affected = every bucket; simulate
    # deleting doc 0 by staging a twin store's partition files.
    twin = str(tmp_path / "twin")
    write_index_store(
        build_index(docs.where(F.col("doc_id") != 0)), twin, n_buckets=4
    )
    after = _rows(read_index_store(spark, twin))
    assert before != after
    terms = sorted(t for t, _, _ in before)

    def views():
        return (
            _rows(read_index_store(spark, path)),
            _rows(term_lookup_store(spark, path, terms)),
        )

    affected = sorted(d for d in os.listdir(path) if d.startswith("bucket="))
    old = {d: sorted(os.listdir(f"{path}/{d}")) for d in affected}
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)

    # S1: the tmp sibling holds the staged files -> OLD snapshot
    for d in os.listdir(twin):
        if d.startswith("bucket="):
            shutil.copytree(f"{twin}/{d}", f"{tmp}/{d}")
    assert views() == (before, before)

    # S2: staged files moved into the live partition dirs, beside the
    # old ones; the manifest still names only the old -> OLD snapshot
    parts = {}
    for d in sorted(os.listdir(tmp)):
        os.makedirs(f"{path}/{d}", exist_ok=True)
        for fn in os.listdir(f"{tmp}/{d}"):
            os.rename(f"{tmp}/{d}/{fn}", f"{path}/{d}/{fn}")
            if not fn.startswith("."):
                parts.setdefault(d.split("=", 1)[1], []).append(fn)
    assert views() == (before, before)

    # S3: the manifest rename = the commit point -> NEW snapshot
    refresh_manifest(path, "bucket", parts)
    assert views() == (after, after)

    # S4: the files the manifest no longer names are deleted -> NEW
    for d, fns in old.items():
        for fn in fns:
            os.remove(f"{path}/{d}/{fn}")
    shutil.rmtree(tmp)
    assert views() == (after, after)


def test_concurrent_reader_sees_only_old_or_new(spark, tmp_path):
    """Readers hammering the store while a real delete swap commits —
    the Spark scan (``read_index_store``) and the driver-side probe
    (``term_lookup_store`` of every term) — each observe only the
    pre-swap or post-swap snapshot (or retry internally, or fail
    loud) — the end-to-end form of the state walk above."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
        read_index_store,
        term_lookup_store,
    )

    path = str(tmp_path / "store")
    _seed(spark, path, n=12)
    before = _rows(read_index_store(spark, path))
    terms = sorted(t for t, _, _ in before)
    readers = {
        "scan": lambda: read_index_store(spark, path),
        "lookup": lambda: term_lookup_store(spark, path, terms),
    }
    seen: dict = {name: [] for name in readers}
    stop = threading.Event()
    errs: list = []

    def reader():
        while not stop.is_set():
            for name, read in readers.items():
                try:
                    seen[name].append(frozenset(_rows(read())))
                except Exception as e:
                    # loud mid-swap errors are an allowed outcome: the
                    # resolve-retry RuntimeError, or Spark's own
                    # missing-file error when a commit lands between
                    # resolution and the collect — never a silent mix.
                    # Recorded (not swallowed) so the assertions below
                    # can verify they are the LOUD kinds (ADVICE r11 #5).
                    errs.append(f"{name}: {type(e).__name__}: {e}")

    t = threading.Thread(target=reader)
    t.start()
    try:
        delete_from_index_store(spark, path, [0, 1, 2])
        after = _rows(read_index_store(spark, path))
        # keep the reader running until it has demonstrably observed
        # the POST-swap snapshot through both readers — without this,
        # stopping right after the delete lets a run that only ever
        # saw pre-swap reads (or only errors) pass vacuously
        deadline = time.monotonic() + 60
        while (
            any(frozenset(after) not in s for s in seen.values())
            and time.monotonic() < deadline
        ):
            time.sleep(0.05)
    finally:
        stop.set()
        t.join(timeout=60)
    allowed = {frozenset(before), frozenset(after)}
    for name, snaps in seen.items():
        mixed = [s for s in set(snaps) if s not in allowed]
        assert not mixed, f"{name}: mixed snapshots observed: {len(mixed)}"
        assert frozenset(after) in set(snaps), (
            f"{name}: post-swap snapshot never observed"
        )
    for e in errs:  # every error must be one of the loud, allowed kinds
        assert (
            "mid-swap" in e
            or "FileNotFound" in e
            or "does not exist" in e
            or "PATH_NOT_FOUND" in e
        ), f"unexpected reader error: {e}"


def test_crash_after_manifest_refresh_heals_on_next_mutation(
    spark, tmp_path, monkeypatch
):
    """Crash after the manifest rename, before the commit deletes what
    the manifest no longer names: the batch is committed and stays
    committed (readers see the post-batch store at once), and the
    next mutation's entry deletes the leftover files."""
    import shutil

    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
        read_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import read_manifest

    path = str(tmp_path / "store")
    _seed(spark, path)
    before = _rows(read_index_store(spark, path))

    real_remove = os.remove

    def dying_remove(p, *a, **k):
        if str(p).startswith(path + "/bucket="):
            raise OSError("injected crash before the old files go")
        return real_remove(p, *a, **k)

    monkeypatch.setattr(store_mod.os, "remove", dying_remove)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_index_store(spark, path, [0])
    monkeypatch.undo()
    # lease was released on the exception path (in-process analog);
    # heal the on-disk one like a dead-writer restart would
    shutil.rmtree(path + ".mutation-lease", ignore_errors=True)

    def unnamed():
        parts = read_manifest(path, "bucket")["parts"]
        return [
            fn
            for d in os.listdir(path)
            if d.startswith("bucket=")
            for fn in os.listdir(f"{path}/{d}")
            if not fn.startswith(".")
            and fn not in parts.get(d.split("=", 1)[1], ())
        ]

    # committed: doc 0 is gone already, the old files are left over
    got = _rows(read_index_store(spark, path))
    assert got != before and not any(0 in t[1] for t in got)
    assert unnamed()

    # the next mutation's entry deletes them, and it commits on top
    affected = delete_from_index_store(spark, path, [7])
    assert affected
    got = _rows(read_index_store(spark, path))
    assert all(t[0] != "alphah" for t in got)  # doc 7's term gone
    assert not any(0 in t[1] for t in got)  # doc 0 stays gone
    assert unnamed() == []


def test_manifest_less_store_fails_loud(spark, tmp_path):
    """There is no manifest-less read: delete the manifest and every
    index-store reader and mutator raises ``FileNotFoundError`` naming
    the seed writer, and the IVF probe names its own seed writer —
    nothing falls back to a directory listing."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        read_index_store,
        term_lookup_store,
    )
    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_pruned_scan_topk,
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import MANIFEST_NAME

    path = str(tmp_path / "store")
    docs = _seed(spark, path)
    os.remove(f"{path}/{MANIFEST_NAME}")
    for call in (
        lambda: read_index_store(spark, path),
        lambda: term_lookup_store(spark, path, ["common"]),
        lambda: merge_into_index_store(spark, path, build_index(docs)),
        lambda: delete_from_index_store(spark, path, [0]),
    ):
        with pytest.raises(FileNotFoundError, match="write_index_store"):
            call()

    cells = str(tmp_path / "cells")
    vecs = spark.createDataFrame(
        [(i, i % 2, [float(i), 1.0]) for i in range(8)],
        "vec_id bigint, cell int, vec array<double>",
    )
    write_ivf_cells(vecs, cells)
    os.remove(f"{cells}/{MANIFEST_NAME}")
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 1.0])],
        "cell int, centroid array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0])], "query_id bigint, query_vec array<double>"
    )
    with pytest.raises(FileNotFoundError, match="write_ivf_cells"):
        ivf_pruned_scan_topk(spark, cells, cents, queries, k=2, n_probe=1)


def test_ivf_probe_resolves_through_manifest(spark, tmp_path):
    """The cell-store probe reads the manifest snapshot and keeps its
    PartitionFilters pruning on the explicit-file-list scan."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        ivf_pruned_scan_topk,
        write_ivf_cells,
    )
    from mapreduce_inverted_index_spark.operators.store import MANIFEST_NAME

    path = str(tmp_path / "cells")
    vecs = spark.createDataFrame(
        [(i, i % 4, [float(i % 7), 1.0, float(i % 3)]) for i in range(64)],
        "vec_id bigint, cell int, vec array<double>",
    )
    write_ivf_cells(vecs, path)
    assert os.path.isfile(f"{path}/{MANIFEST_NAME}")
    cents = (
        vecs.groupBy("cell")
        .agg(F.first("vec").alias("centroid"))
        .select("cell", F.col("centroid").cast("array<double>"))
    )
    queries = spark.createDataFrame(
        [(1000, [1.0, 1.0, 1.0])], "query_id bigint, query_vec array<double>"
    )
    out = ivf_pruned_scan_topk(spark, path, cents, queries, k=5, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan
    assert out.count() == 5
