"""Single-writer mutation lease for the partition-swapped stores.

Every store mutator opens with entry-time crash recovery, which rolls
back any sibling tmp-swap dir on the assumption its writer is DEAD.
Two live writers on one store break that assumption: writer B's
recovery would roll back writer A's in-flight swap while A's
checkpoint commits — a lost batch with no error. The lease
(``operators.store.mutation_lease``) makes the single-writer
discipline executable: a second live writer fails loud, a lease left
by a crashed (dead-pid) writer heals, and the same process re-enters
freely (maintenance folds hold the lease around the leaf mutators
they call).
"""

from __future__ import annotations

import os
import subprocess

import pytest
from pyspark.sql import functions as F


def _seed_store(spark, path):
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma alpha")],
        "doc_id bigint, text string",
    )
    write_index_store(build_index(docs), path, n_buckets=4)


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


def test_live_holder_rejects_second_writer(spark, tmp_path):
    """A lease held by a LIVE process makes every mutator fail loud —
    delete, merge, and even a re-seed overwrite — and leaves the
    holder's lease untouched."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        delete_from_index_store,
        merge_into_index_store,
        write_index_store,
    )

    path = str(tmp_path / "store")
    _seed_store(spark, path)
    lease = _plant_lease(path, pid=1)  # pid 1 is always alive

    with pytest.raises(RuntimeError, match="live process 1"):
        delete_from_index_store(spark, path, [1])
    delta = build_index(
        spark.createDataFrame([(9, "zeta")], "doc_id bigint, text string")
    )
    with pytest.raises(RuntimeError, match="live process 1"):
        merge_into_index_store(spark, path, delta)
    with pytest.raises(RuntimeError, match="live process 1"):
        write_index_store(delta, path, n_buckets=4)
    assert os.path.isdir(lease)  # the holder's lease was not healed
    with open(f"{lease}/pid") as f:
        assert f.read() == "1"


def test_stale_lease_from_dead_writer_heals(spark, tmp_path):
    """A lease whose pid no longer exists is a crash leftover: the
    next mutator heals it, proceeds, and releases its own lease."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        delete_from_index_store,
        read_index_store,
    )

    path = str(tmp_path / "store")
    _seed_store(spark, path)
    lease = _plant_lease(path, pid=_dead_pid())

    affected = delete_from_index_store(spark, path, [1])
    assert affected  # the mutation actually ran
    assert not os.path.isdir(lease)  # healed, then released
    got = {
        r["term"]
        for r in read_index_store(spark, path).collect()
        if 1 in r["postings"]
    }
    assert got == set()


def test_lease_is_reentrant_within_a_process(spark, tmp_path):
    """A maintenance fold holds the lease around recovery + fold; the
    leaf mutator re-enters instead of deadlocking, and the lease
    survives until the OUTER holder exits."""
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        merge_into_index_store,
    )
    from mapreduce_inverted_index_spark.operators.store import (
        mutation_lease,
    )

    path = str(tmp_path / "store")
    _seed_store(spark, path)
    lease = path + ".mutation-lease"
    delta = build_index(
        spark.createDataFrame([(9, "zeta")], "doc_id bigint, text string")
    )
    with mutation_lease(path):
        assert os.path.isdir(lease)
        assert merge_into_index_store(spark, path, delta)
        assert os.path.isdir(lease)  # inner exit didn't release it
    assert not os.path.isdir(lease)


def test_lease_releases_on_mutator_failure(spark, tmp_path, monkeypatch):
    """An exception inside the leased section (the in-process analog
    of a failed batch) releases the lease — only a PROCESS death
    leaves one behind, and that one is dead-pid-healable."""
    from mapreduce_inverted_index_spark.operators import inverted_index as ii
    from mapreduce_inverted_index_spark.operators import store as store_mod

    path = str(tmp_path / "store")
    _seed_store(spark, path)

    def boom(*a, **k):
        raise OSError("injected crash")

    monkeypatch.setattr(store_mod, "swap_partition_dirs", boom)
    with pytest.raises(OSError, match="injected crash"):
        ii.delete_from_index_store(spark, path, [1])
    assert not os.path.isdir(path + ".mutation-lease")
    # and the store is untouched — the swap never started
    assert ii.read_index_store(spark, path).count() > 0


def test_ivf_cell_mutators_share_the_guard(spark, tmp_path):
    """The embedding cell store's delete/compact take the same lease:
    a live holder rejects them, a dead holder heals."""
    from mapreduce_inverted_index_spark.operators.similarity import (
        compact_ivf_cells,
        delete_from_ivf_cells,
        write_ivf_cells,
    )

    path = str(tmp_path / "cells")
    vecs = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0]) for i in range(9)],
        "vec_id bigint, cell int, embedding array<double>",
    )
    write_ivf_cells(vecs, path)

    lease = _plant_lease(path, pid=1)
    with pytest.raises(RuntimeError, match="live process 1"):
        delete_from_ivf_cells(spark, path, [0])
    with pytest.raises(RuntimeError, match="live process 1"):
        compact_ivf_cells(spark, path, max_files_per_cell=0)
    os.rename(f"{lease}/pid", f"{lease}/pid.bak")
    with open(f"{lease}/pid", "w") as f:
        f.write(str(_dead_pid()))
    os.remove(f"{lease}/pid.bak")
    assert delete_from_ivf_cells(spark, path, [0]) == [0]
    assert not os.path.isdir(lease)


def test_takedown_loop_rejected_while_ingest_holds_lease(spark, tmp_path):
    """End-to-end through the streaming surface: a takedown pass
    against a store whose lease a live 'other writer' holds fails the
    micro-batch (uncommitted — it replays once the writer is gone)
    instead of rolling back that writer's work."""
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    idx = str(tmp_path / "index")
    _seed_store(spark, idx)
    _plant_lease(idx, pid=1)

    td = str(tmp_path / "takedowns")
    spark.createDataFrame([(1,)], "doc_id bigint").coalesce(1).write.mode(
        "append"
    ).parquet(td)
    with pytest.raises(Exception, match="live process 1"):
        maintain_takedowns_available_now(
            spark, td, idx, str(tmp_path / "ckpt")
        )
    # nothing committed: the store still contains doc 1 everywhere
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        read_index_store,
    )

    assert (
        read_index_store(spark, idx)
        .where(F.array_contains("postings", 1))
        .count()
        > 0
    )
