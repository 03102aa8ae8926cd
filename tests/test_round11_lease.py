"""Round-11 lease hardening (ADVICE r10 items 1, 3, 5 + reseed item 2).

The mutation lease's re-entrancy used to be process-wide: two threads
of ONE process (the most common concurrent-writer setup — an ADD
maintenance loop and a takedown loop as separate streaming queries in
one driver) silently shared the lease, and whichever exited first
dropped it while the other was mid-swap. Healing a dead writer's lease
used rmtree, which could race a faster healer that already healed AND
re-acquired. Staging dirs orphaned between makedirs and the lease
rename accumulated forever. And an overwrite reseed left mid-swap
tmp orphans in place, arming the NEXT mutator's entry recovery to
resurrect pre-crash data over the fresh seed (today every writer's
entry deletes any tmp sibling, and nothing moves data back). This
file pins the fixes for all four.
"""

from __future__ import annotations

import os
import subprocess
import threading

import pytest


def _plant_lease(path: str, pid: int) -> str:
    lease = path.rstrip("/") + ".mutation-lease"
    os.makedirs(lease)
    with open(f"{lease}/pid", "w") as f:
        f.write(str(pid))
    return lease


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_second_thread_fails_loud(tmp_path):
    """Re-entrancy is scoped to the OWNING thread: while thread A
    holds the lease, thread B of the same process raises instead of
    silently sharing — and A's lease survives B's attempt."""
    from mapreduce_inverted_index_spark.operators.store import (
        mutation_lease,
    )

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = path + ".mutation-lease"
    entered = threading.Event()
    release = threading.Event()
    errs: list = []

    def holder():
        with mutation_lease(path):
            entered.set()
            release.wait(timeout=30)

    def second_writer():
        try:
            with mutation_lease(path):
                errs.append("silently entered")
        except RuntimeError as e:
            errs.append(e)

    a = threading.Thread(target=holder)
    a.start()
    assert entered.wait(timeout=30)
    b = threading.Thread(target=second_writer)
    b.start()
    b.join(timeout=30)
    assert len(errs) == 1 and isinstance(errs[0], RuntimeError)
    assert "thread" in str(errs[0])
    assert os.path.isdir(lease)  # B did not tear down A's lease
    release.set()
    a.join(timeout=30)
    assert not os.path.isdir(lease)  # A's exit released it


def test_reentrancy_still_works_within_the_owning_thread(tmp_path):
    from mapreduce_inverted_index_spark.operators.store import (
        mutation_lease,
    )

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = path + ".mutation-lease"
    with mutation_lease(path):
        with mutation_lease(path):
            with mutation_lease(path):
                assert os.path.isdir(lease)
            assert os.path.isdir(lease)
        assert os.path.isdir(lease)  # inner exits never release
    assert not os.path.isdir(lease)


def test_failed_acquisition_unregisters_in_process_claim(tmp_path):
    """A writer rejected by a live on-disk holder must not leave its
    in-process claim behind — the same thread must be able to retry
    once the holder is gone."""
    from mapreduce_inverted_index_spark.operators.store import (
        mutation_lease,
    )

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = _plant_lease(path, pid=1)  # pid 1 is always alive
    with pytest.raises(RuntimeError, match="live process 1"):
        with mutation_lease(path):
            pass
    # retry in the SAME thread after the holder releases
    import shutil

    shutil.rmtree(lease)
    with mutation_lease(path):
        assert os.path.isdir(lease)
    assert not os.path.isdir(lease)


def test_heal_tombstones_instead_of_rmtree(tmp_path, monkeypatch):
    """Healing renames the dead lease aside to a unique tombstone
    (content-verified), never rmtree-in-place: the acquisition
    sequence records a rename of the stale lease, and the healed
    writer proceeds."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = _plant_lease(path, pid=_dead_pid())

    renames: list = []
    real_rename = store_mod._fs_rename

    def spying_rename(src, dst):
        renames.append((src, dst))
        return real_rename(src, dst)

    monkeypatch.setattr(store_mod, "_fs_rename", spying_rename)
    with store_mod.mutation_lease(path):
        assert os.path.isdir(lease)
    tomb_renames = [
        (s, d) for s, d in renames if ".mutation-lease.tombstone-" in d
    ]
    assert tomb_renames and tomb_renames[0][0] == lease
    assert not os.path.isdir(lease)


def test_heal_gives_back_a_stolen_live_lease(tmp_path, monkeypatch):
    """The doubly-raced heal: between this writer's dead-pid read and
    its rename, a faster healer healed AND re-acquired — so the
    rename grabs a LIVE writer's fresh lease. The verify step detects
    the live pid inside the tombstone, renames it back into place,
    and defers loudly instead of deleting it."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = _plant_lease(path, pid=_dead_pid())

    real_holder = store_mod._lease_holder
    flipped = {"done": False}

    def racing_holder(p):
        pid = real_holder(p)
        # simulate the fast healer: after THIS writer reads the dead
        # pid off the lease path, the lease is replaced by a live
        # writer's fresh one (pid 1 stands in for the live writer)
        if p == lease and not flipped["done"]:
            flipped["done"] = True
            with open(f"{lease}/pid", "w") as f:
                f.write("1")
        return pid

    monkeypatch.setattr(store_mod, "_lease_holder", racing_holder)
    with pytest.raises(RuntimeError, match="live process 1"):
        with store_mod.mutation_lease(path):
            pass
    # the live writer's lease is back in place, intact
    assert os.path.isdir(lease)
    with open(f"{lease}/pid") as f:
        assert f.read() == "1"


def test_release_leaves_a_foreign_lease_alone(tmp_path, monkeypatch):
    """Release verifies the lease names OUR pid before rmtree: if our
    lease vanished and another writer's landed at the path, exiting
    must not delete theirs."""
    from mapreduce_inverted_index_spark.operators import store as store_mod

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = path + ".mutation-lease"
    with store_mod.mutation_lease(path):
        # simulate the pathological steal: our lease is replaced by a
        # live foreign writer's while we hold it
        with open(f"{lease}/pid", "w") as f:
            f.write("1")
    assert os.path.isdir(lease)  # theirs survived our exit
    with open(f"{lease}/pid") as f:
        assert f.read() == "1"
    import shutil

    shutil.rmtree(lease)


def test_acquisition_sweeps_stage_and_dead_tombstone_orphans(tmp_path):
    """Crash junk next to the lease path is swept on the next
    acquisition: ``.stage-*`` dirs unconditionally (a live stager
    self-heals via its retry loop), ``.tombstone-*`` dirs only when
    their recorded pid is dead."""
    from mapreduce_inverted_index_spark.operators.store import (
        mutation_lease,
    )

    path = str(tmp_path / "store")
    os.makedirs(path)
    lease = path + ".mutation-lease"
    stage = f"{lease}.stage-deadbeef"
    os.makedirs(stage)
    dead_tomb = f"{lease}.tombstone-deadbeef"
    os.makedirs(dead_tomb)
    with open(f"{dead_tomb}/pid", "w") as f:
        f.write(str(_dead_pid()))
    live_tomb = f"{lease}.tombstone-cafebabe"
    os.makedirs(live_tomb)
    with open(f"{live_tomb}/pid", "w") as f:
        f.write("1")  # stolen-lease evidence: must survive

    with mutation_lease(path):
        pass
    assert not os.path.isdir(stage)
    assert not os.path.isdir(dead_tomb)
    assert os.path.isdir(live_tomb)


def _orphan_swap(path: str, part_col: str, v: int) -> str:
    """Plant a mid-swap orphan whose retired copy would resurrect over
    a fresh seed if entry recovery ran after the reseed."""
    tmp = path.rstrip("/") + ".tmp-swap-deadbeef"
    os.makedirs(f"{tmp}/retired-{part_col}={v}")
    with open(f"{tmp}/retired-{part_col}={v}/stale.parquet", "w") as f:
        f.write("pre-crash bytes")
    return tmp


def test_reseed_purges_swap_orphans_index_store(spark, tmp_path):
    """write_index_store inside its lease deletes tmp orphans, so no
    pre-crash bytes can reach the fresh seed."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        read_index_store,
        write_index_store,
    )

    path = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")],
        "doc_id bigint, text string",
    )
    write_index_store(build_index(docs), path, n_buckets=4)
    tmp = _orphan_swap(path, "bucket", 0)
    # reseed with the orphan present
    write_index_store(build_index(docs), path, n_buckets=4)
    assert not os.path.isdir(tmp)  # purged inside the seeding lease
    # the next mutator's entry recovery finds nothing to roll back
    delete_from_index_store(spark, path, [1])
    terms = {r["term"] for r in read_index_store(spark, path).collect()}
    assert terms  # store readable: no stale bytes were resurrected
    for d in os.listdir(path):
        if d.startswith("bucket="):
            for fn in os.listdir(f"{path}/{d}"):
                assert fn != "stale.parquet"


def test_reseed_purges_swap_orphans_ivf_cells(spark, tmp_path):
    """write_ivf_cells has the same reseed discipline on cell= dirs."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        delete_from_ivf_cells,
        write_ivf_cells,
    )

    path = str(tmp_path / "cells")
    vecs = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0]) for i in range(9)],
        "vec_id bigint, cell int, vec array<double>",
    )
    write_ivf_cells(vecs, path)
    tmp = _orphan_swap(path, "cell", 0)
    write_ivf_cells(vecs, path)
    assert not os.path.isdir(tmp)
    delete_from_ivf_cells(spark, path, [0])
    for d in os.listdir(path):
        if d.startswith("cell="):
            for fn in os.listdir(f"{path}/{d}"):
                assert fn != "stale.parquet"
