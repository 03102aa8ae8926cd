"""Atomic reader manifest for the partition-swapped stores (VERDICT
r10 ask #4).

Writers were already crash-safe (lease + dir swap + entry rollback),
but a READER that listed the store during the rename window could see
a mixed view: some partitions pre-swap, some post, some absent —
silently. Readers now resolve one committed snapshot through
``_mii_manifest.json`` (written atomically by every writer AFTER its
renames land): concurrent with a swap they return exactly the
pre-swap or post-swap state, or fail loud — never a mix. This file
drives the store through every intermediate swap state
(crash-injection style) and asserts that invariant, plus the
recovery/reseed manifest refreshes.
"""

from __future__ import annotations

import functools
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


def _fast_retries(monkeypatch):
    """Readers retry ~2s by default before failing loud; frozen-state
    tests shrink that to keep the suite fast. Both readers, the Spark
    snapshot open and the driver-side partition read, retry through
    ``store._read_committed``."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    monkeypatch.setattr(
        store_mod,
        "_read_committed",
        functools.partial(store_mod._read_committed, retries=3, wait_sec=0.01),
    )


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


def test_reader_never_sees_mixed_view_across_swap_states(
    spark, tmp_path, monkeypatch
):
    """Drive the swap's intermediate states by hand (the states a
    crash or a concurrent reader can observe) and assert the
    manifest-resolving reader returns the OLD snapshot, the NEW
    snapshot, or raises — never a partial/mixed result."""
    import shutil
    import uuid

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        read_index_store,
        term_lookup_store,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        refresh_manifest,
    )

    _fast_retries(monkeypatch)
    path = str(tmp_path / "store")
    docs = _seed(spark, path)
    before = _rows(read_index_store(spark, path))

    # Build the post-delete state the way the swap does, but stop at
    # each intermediate point. Affected = every bucket containing
    # doc 0's terms; simulate deleting doc 0 from bucket dirs by
    # re-seeding a twin store and borrowing its partition dirs.
    twin = str(tmp_path / "twin")
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        write_index_store,
    )

    write_index_store(
        build_index(docs.where(F.col("doc_id") != 0)), twin, n_buckets=4
    )
    after = _rows(read_index_store(spark, twin))
    assert before != after
    terms = sorted(t for t, _, _ in before)

    def lookup():
        return _rows(term_lookup_store(spark, path, terms))

    affected = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("bucket=")
    )
    tmp = path + f".tmp-swap-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)

    # S1: tmp holds rewritten copies; live untouched -> OLD snapshot
    for v in affected:
        shutil.copytree(f"{twin}/bucket={v}", f"{tmp}/bucket={v}")
    assert _rows(read_index_store(spark, path)) == before
    assert lookup() == before

    # S2: live dirs renamed ASIDE -> manifest names missing files ->
    # loud error (not a silent partial view)
    for v in affected:
        os.rename(f"{path}/bucket={v}", f"{tmp}/retired-bucket={v}")
    with pytest.raises(RuntimeError, match="mid-swap"):
        read_index_store(spark, path).collect()
    with pytest.raises(RuntimeError, match="mid-swap"):
        lookup()

    # S3: new dirs renamed IN, manifest not yet refreshed -> the old
    # manifest's file names are gone -> still loud, still not mixed
    for v in affected:
        os.rename(f"{tmp}/bucket={v}", f"{path}/bucket={v}")
    with pytest.raises(RuntimeError, match="mid-swap"):
        read_index_store(spark, path).collect()
    with pytest.raises(RuntimeError, match="mid-swap"):
        lookup()

    # S4: manifest refresh = the reader-visible commit -> NEW snapshot
    refresh_manifest(path, "bucket")
    assert _rows(read_index_store(spark, path)) == after
    assert lookup() == after

    shutil.rmtree(tmp)


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
    """Crash between the manifest refresh and the tmp cleanup: the
    orphan makes the next mutator's entry recovery roll the DATA back
    — and it must re-derive the manifest too, or readers would fail
    on the retired state forever."""
    import shutil

    from mapreduce_inverted_index_spark.operators import store as store_mod
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
        read_index_store,
    )

    path = str(tmp_path / "store")
    _seed(spark, path)
    before = _rows(read_index_store(spark, path))

    real_rmtree = shutil.rmtree
    def dying_rmtree(p, *a, **k):
        if ".tmp-swap-" in str(p):
            raise OSError("injected crash before tmp cleanup")
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr(store_mod.shutil, "rmtree", dying_rmtree)
    with pytest.raises(OSError, match="injected crash"):
        delete_from_index_store(spark, path, [0])
    monkeypatch.undo()
    # lease was released on the exception path (in-process analog);
    # heal the on-disk one like a dead-writer restart would
    shutil.rmtree(path + ".mutation-lease", ignore_errors=True)

    # next mutation's entry recovery rolls back AND refreshes the
    # manifest: the store reads as the PRE-batch state (the stream
    # replays the uncommitted batch)
    affected = delete_from_index_store(spark, path, [7])
    assert affected
    got = _rows(read_index_store(spark, path))
    assert all(t[0] != "alphah" for t in got)  # doc 7's term gone
    # doc 0 is back (its delete rolled back, awaiting replay)
    assert any(0 in t[1] for t in got)
    assert got != before


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
