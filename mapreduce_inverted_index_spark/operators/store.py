"""Shared commit scaffolding for partition-dir-swapped stores.

Every stored state a maintenance loop keeps current is a partitioned
store of this one format: the term-hash-bucketed text index
(partition col ``bucket``, ``operators/inverted_index.py``), the IVF
embedding cell store (``cell``, ``operators/similarity.py``), the
semantic dup log (``batch``), and two one-partition states whose
constant ``part`` column readers drop — the Misra-Gries summary
(``streaming/sketches.py``) and the IVF codebook
(``streaming/ingest.py``). This module owns what they share: the
store format, the crash-safe commits on a bare filesystem, and the
reader's snapshot open.

Writers go through three entry points, which own the whole commit
protocol so no operator repeats it: :func:`seed_store` (lease, purge
crash orphans, overwrite, commit the manifest),
:func:`rewrite_partitions` (lease, crash recovery, snapshot open, the
caller's rewrite plan, partition swap) and :func:`append_partitions`
(lease, crash recovery, batch-keyed file append, commit the
manifest). An operator supplies only the DataFrame to seed or append,
or the plan that says which partitions a batch touches and what they
hold afterwards.

Format: a partitioned store is its ``<part_col>=v/`` directories plus
``_mii_manifest.json`` — ``version``, ``part_col``, ``parts`` (the
live data files per partition), ``schema`` (the written
``StructType`` JSON) and, for the index store, ``n_buckets`` (the
term-hash arity). The manifest rename is the only commit point:
readers open the snapshot it names (:func:`open_snapshot`), and a
directory without a manifest is not a store — readers and mutators
refuse it, naming the seed writer.

At 100 TB the same bodies run against a transactional table format
(Iceberg/Delta partition-level REPLACE and APPEND); the swap is the
filesystem-only stand-in for that commit, and :func:`mutation_lease`
is the stand-in for that format's writer-concurrency control — every
mutator and maintenance fold holds it, so the entry-time crash
recovery (:func:`recover_partition_swaps`) can safely assume any
orphan it finds belongs to a DEAD writer.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame

__all__ = [
    "seed_store",
    "rewrite_partitions",
    "append_partitions",
    "swap_partition_dirs",
    "recover_partition_swaps",
    "purge_swap_orphans",
    "mutation_lease",
    "open_snapshot",
    "read_partitions",
    "read_manifest",
    "refresh_manifest",
    "MANIFEST_NAME",
]

# store paths whose lease THIS process currently holds, keyed to the
# OWNING THREAD and its re-entry depth — makes the lease re-entrant
# per thread (a maintenance fold holds it around the whole batch; the
# leaf mutator it calls re-enters instead of deadlocking) while a
# SECOND thread of the same process fails loud instead of silently
# sharing the lease (two streaming queries in one driver are exactly
# the concurrent-writer setup the lease exists to block)
_HELD_LEASES: "dict[str, list]" = {}  # key -> [thread ident, depth]
_HELD_LOCK = threading.Lock()

# bound at import so the crash-sweep tests (which monkeypatch
# os.rename to die at every COMMIT rename in turn) don't count the
# lease's staged rename as a commit point: a death there leaves only
# a dead-pid lease, healed on the next entry — no data moved, nothing
# to sweep — and intercepting it would shift every sweep offset
_fs_rename = os.rename


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _lease_holder(lease: str) -> "int | None":
    try:
        with open(f"{lease}/pid") as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


@contextlib.contextmanager
def mutation_lease(path: str):
    """Single-writer guard for store mutations. Every mutator's first
    act is entry-time crash recovery (:func:`recover_partition_swaps`,
    run by every entry point that changes a committed store), which
    treats any sibling tmp dir as an orphan of a DEAD writer and
    rolls it back. That is only sound if writers never overlap: a
    second live writer's recovery would roll back the first writer's
    IN-FLIGHT swap while its checkpoint goes on to commit — a lost
    batch with no error, the exact failure class the swaps exist to
    prevent. This lease makes
    the single-writer discipline executable: concurrent mutation
    fails loud instead of corrupting.

    Mechanics: a ``<path>.mutation-lease`` sibling dir holding the
    writer's pid, created fully-formed via staging-dir + atomic
    rename (a half-created lease is never visible). If the lease
    exists and its pid is a LIVE process, raise; if the pid is dead
    (a writer that crashed inside its lease), heal the lease and
    proceed — the entry recovery inside the new lease heals the
    data. Re-entrant within a process, so a maintenance fold can
    hold it around recovery + fold while the leaf mutator re-enters.

    Pid liveness is same-host only — the honest scope for this
    filesystem store, which is the local stand-in for a
    transactional table format whose commit protocol (Iceberg/Delta
    optimistic concurrency) replaces this lease at 100 TB.

    Re-entrancy is scoped to the OWNING THREAD, not the process: a
    second thread of the same process raises the same loud error a
    second process gets (it used to silently share the lease — two
    streaming maintenance loops in one driver would bypass the
    guard entirely, and the first to exit would drop the lease out
    from under the other).
    """
    key = os.path.abspath(path.rstrip("/"))
    me = threading.get_ident()
    with _HELD_LOCK:
        held = _HELD_LEASES.get(key)
        if held is not None:
            if held[0] == me:
                held[1] += 1
                reentered = True
            else:
                raise RuntimeError(
                    f"{path}: store is being mutated by thread "
                    f"{held[0]} of THIS process; a second concurrent "
                    "writer's entry-time recovery would roll back its "
                    "in-flight swap. Run one maintenance loop per "
                    "store (production: a transactional table "
                    "format's commit protocol)."
                )
        else:
            _HELD_LEASES[key] = [me, 1]
            reentered = False
    if reentered:
        try:
            yield
        finally:
            with _HELD_LOCK:
                _HELD_LEASES[key][1] -= 1
        return
    lease = path.rstrip("/") + ".mutation-lease"
    try:
        _sweep_lease_orphans(lease)
        for _ in range(3):
            staging = f"{lease}.stage-{uuid.uuid4().hex[:8]}"
            os.makedirs(staging)
            with open(f"{staging}/pid", "w") as f:
                f.write(str(os.getpid()))
            try:
                _fs_rename(staging, lease)
                break
            except OSError:
                shutil.rmtree(staging, ignore_errors=True)
                holder = _lease_holder(lease)
                if holder is not None and _pid_alive(holder):
                    raise RuntimeError(
                        f"{path}: store is being mutated by live "
                        f"process {holder}; a second concurrent "
                        "writer's entry-time recovery would roll back "
                        "its in-flight swap. Run one maintenance loop "
                        "per store (production: a transactional table "
                        "format's commit protocol)."
                    )
                # Stale lease from a crashed writer: heal it ATOMICALLY
                # by renaming it aside to a unique tombstone — only one
                # healer's rename succeeds; rmtree here would race a
                # faster healer that already healed AND re-acquired,
                # deleting its fresh live lease. The rename is still
                # content-blind, so verify the tombstone holds the dead
                # incarnation we judged stale; if we grabbed a LIVE
                # writer's fresh lease instead, put it back and defer.
                tomb = f"{lease}.tombstone-{uuid.uuid4().hex[:8]}"
                try:
                    _fs_rename(lease, tomb)
                except OSError:
                    continue  # another healer won the rename; retry
                stolen = _lease_holder(tomb)
                if stolen is not None and _pid_alive(stolen):
                    try:
                        _fs_rename(tomb, lease)
                    except OSError:
                        pass  # a third writer landed; tomb stays as
                        # evidence (swept once its pid dies)
                    raise RuntimeError(
                        f"{path}: store is being mutated by live "
                        f"process {stolen} (lease re-acquired during "
                        "heal); deferring."
                    )
                shutil.rmtree(tomb, ignore_errors=True)
        else:
            raise RuntimeError(
                f"{path}: could not acquire mutation lease"
            )
    except BaseException:
        with _HELD_LOCK:
            _HELD_LEASES.pop(key, None)
        raise
    try:
        yield
    finally:
        with _HELD_LOCK:
            _HELD_LEASES.pop(key, None)
        # release only OUR incarnation: if our lease was stolen by a
        # doubly-raced healer and another writer re-acquired, the dir
        # at this path belongs to them — leave it
        if _lease_holder(lease) == os.getpid():
            shutil.rmtree(lease, ignore_errors=True)


def _sweep_lease_orphans(lease: str) -> None:
    """Remove crash junk next to the lease path: ``.stage-*`` dirs a
    writer orphaned between ``makedirs`` and the lease rename (any
    live writer whose staging we remove self-heals — its rename fails
    and its retry loop re-stages), and ``.tombstone-*`` dirs whose
    recorded pid is dead (a live-pid tombstone is the stolen-lease
    evidence case and must survive until that writer exits)."""
    parent = os.path.dirname(lease) or "."
    base = os.path.basename(lease)
    if not os.path.isdir(parent):
        return
    for d in os.listdir(parent):
        full = f"{parent}/{d}"
        if d.startswith(f"{base}.stage-"):
            shutil.rmtree(full, ignore_errors=True)
        elif d.startswith(f"{base}.tombstone-"):
            pid = _lease_holder(full)
            if pid is None or not _pid_alive(pid):
                shutil.rmtree(full, ignore_errors=True)


def seed_store(
    df: DataFrame, path: str, part_col: str, meta: "dict | None" = None
) -> None:
    """Seed (or reseed) a partitioned store with ``df`` as a full
    ``partitionBy(part_col)`` overwrite, then commit its manifest with
    ``meta`` and ``df``'s schema. The caller lays ``df`` out (file
    count and sort order per partition); this owns the commit.

    Seeding is a mutation too, so it holds the lease: overwriting a
    store a live maintenance fold is mid-swap on loses the fold's
    batch. Mid-swap orphans are purged, not recovered, before the
    overwrite (:func:`purge_swap_orphans`). The overwrite drops any
    prior manifest, so a seed that dies before its manifest commit
    leaves a directory every reader and mutator refuses until a
    re-run of the seed.
    """
    with mutation_lease(path):
        purge_swap_orphans(path)
        df.write.mode("overwrite").partitionBy(part_col).parquet(path)
        refresh_manifest(
            path, part_col, {**(meta or {}), "schema": df.schema.json()}
        )


def rewrite_partitions(spark, path: str, part_col: str, plan) -> "list":
    """Rewrite only the partitions a batch touches: under the lease,
    roll back any dead writer's half-done swap
    (:func:`recover_partition_swaps`), open the committed snapshot
    (:func:`open_snapshot`, which refuses a directory with no
    manifest), then call ``plan(snapshot, manifest)``. The plan
    returns ``(affected, rewritten)``: the partition values the batch
    touches and a DataFrame of every row those partitions hold
    afterwards, partition column included. If anything is affected,
    :func:`swap_partition_dirs` commits ``rewritten`` over exactly
    those partitions; every other partition keeps its files. Returns
    ``affected``.
    """
    with mutation_lease(path):
        recover_partition_swaps(path, part_col)
        snapshot, manifest = open_snapshot(spark, path, part_col)
        affected, rewritten = plan(snapshot, manifest)
        if affected:
            swap_partition_dirs(path, rewritten, part_col, affected)
        return affected


def append_partitions(
    df: DataFrame, path: str, part_col: str, batch_id: int
) -> None:
    """Idempotent batch-keyed APPEND: under the lease, roll back any
    dead writer's half-done swap (:func:`recover_partition_swaps`),
    write ``df`` ``partitionBy(part_col)`` into a per-batch tmp dir,
    move each partition's output file onto the DETERMINISTIC
    ``<part_col>=v/batch-<batch_id>.parquet``, and commit the manifest
    with ``df``'s schema — creating it when this append births the
    store, so every store carries one from its first batch.

    The recovery comes first because appending into a half-swapped
    store loses rows: the partition a crashed swap renamed aside
    would be recreated holding only this batch, and the next
    mutator's rollback would discard it to restore the retired copy.
    A replayed batch recomputes the same rows and overwrites its own
    files instead of appending duplicates — the filesystem analog of
    a transactional sink keyed by batch id. The tmp name is
    batch-deterministic too, so a crashed append's tmp is simply
    overwritten by the replay.
    """
    with mutation_lease(path):
        recover_partition_swaps(path, part_col)
        tmp = path.rstrip("/") + f".tmp-batch-{batch_id}"
        # repartition on the partition column: each value's rows land
        # in one task, so each partition dir gets exactly one file
        (
            df.repartition(part_col)
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(tmp)
        )
        os.makedirs(path, exist_ok=True)
        for d in os.listdir(tmp):
            if not d.startswith(f"{part_col}="):
                continue
            (fn,) = [
                f for f in os.listdir(f"{tmp}/{d}") if f.endswith(".parquet")
            ]
            os.makedirs(f"{path}/{d}", exist_ok=True)
            os.replace(
                f"{tmp}/{d}/{fn}", f"{path}/{d}/batch-{batch_id}.parquet"
            )
        refresh_manifest(path, part_col, {"schema": df.schema.json()})
        shutil.rmtree(tmp)


def swap_partition_dirs(
    path: str,
    remaining: DataFrame,
    part_col: str,
    affected: "list[int]",
) -> None:
    """Crash-safe commit for partition-level store rewrites
    (delete/compact): write ``remaining`` ``partitionBy(part_col)``
    into a per-call-UNIQUE tmp dir, then per affected partition move
    the live dir ASIDE into the tmp before moving the rewritten dir
    in — nothing is unlinked until both renames landed, so a kill at
    any point leaves every row either live or intact inside the
    orphaned tmp (:func:`recover_partition_swaps` rolls that tmp
    back; a bare filesystem has no atomic multi-dir commit —
    production targets a transactional format's REPLACE). A fixed tmp name would let a
    post-crash replay clobber the only surviving copy of a
    half-swapped partition; the uuid suffix closes that window.
    Untouched partition directories are never opened, moved, or
    rewritten — they keep their exact files (pytest-pinned by file
    listing in both stores' test suites).

    Scope note (readers): WRITERS are serialized by
    :func:`mutation_lease` and crashes roll back via
    :func:`recover_partition_swaps`; READERS open one committed
    snapshot through the manifest this function refreshes after its
    renames (:func:`refresh_manifest` / :func:`open_snapshot` — a
    probe concurrent with the rename window converges to the
    post-swap snapshot or fails loud, never a mixed listing). What
    remains out of scope on a bare filesystem is multi-mutation
    isolation for long-running readers (a job still reading files a
    LATER mutation retired fails loud on the missing file); at 100 TB
    the transactional format this swap stands in for keeps retired
    files until snapshot expiry.
    """
    tmp = path.rstrip("/") + f".tmp-swap-{uuid.uuid4().hex[:8]}"
    remaining.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    for v in affected:
        old = f"{path}/{part_col}={v}"
        new = f"{tmp}/{part_col}={v}"
        if os.path.isdir(old):
            os.rename(old, f"{tmp}/retired-{part_col}={v}")
        if os.path.isdir(new):  # absent when the partition lost every row
            os.rename(new, old)
    # reader-visible commit: refresh the manifest BEFORE dropping the
    # tmp — a crash in between leaves an orphan, whose entry-time
    # rollback re-refreshes, so manifest and data never diverge
    refresh_manifest(path, part_col)
    shutil.rmtree(tmp)


MANIFEST_NAME = "_mii_manifest.json"

# the writer that seeds each partitioned store, named when a store
# has no manifest
_SEEDERS = {"bucket": "write_index_store", "cell": "write_ivf_cells"}


def read_manifest(path: str, part_col: str) -> dict:
    """The store's manifest, or ``FileNotFoundError`` naming the seed
    writer: a directory without one — flat, half-seeded (the seed
    died before its manifest commit), or absent — is not a store."""
    import json

    try:
        with open(f"{path}/{MANIFEST_NAME}") as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{path}: no {MANIFEST_NAME}, so this is not a partitioned "
            f"store — seed it with {_SEEDERS.get(part_col, 'its seed writer')} "
            "(a full overwrite)"
        ) from None


def refresh_manifest(
    path: str, part_col: str, meta: "dict | None" = None
) -> dict:
    """Write the store's READER manifest: one atomic JSON file naming
    every live data file per partition, committed via tmp-file +
    rename. Called by every WRITER inside its lease, strictly AFTER
    its partition renames land — so the manifest always describes a
    COMMITTED state, and the single rename is the reader-visible
    commit point.

    Why: the partition-dir swap is crash-safe for writers, but a
    reader that LISTS the store during the rename window sees a mixed
    view — some partitions pre-swap, some post, some absent. Readers
    that open through the manifest (:func:`open_snapshot`) never
    list, so they see exactly one committed snapshot or fail loud —
    never a mix. This is the bare-filesystem stand-in for a
    transactional format's snapshot pointer (an Iceberg metadata.json
    at 100 TB), same as the lease stands in for its commit protocol.

    Listing here is safe: the caller holds the mutation lease, so no
    swap is in flight.

    ``meta`` holds the store-defining fields a seed writer records —
    ``schema`` (``StructType.json()``, so a COMMITTED-EMPTY store
    reads as an empty DataFrame of the right shape) and, for the
    index store, ``n_buckets``. Every other field of the prior
    manifest carries forward, so refreshes that hold no DataFrame
    (swap commits, entry recovery) keep what the seed recorded.
    """
    import json

    try:
        prior = read_manifest(path, part_col)
    except FileNotFoundError:
        prior = {}
    parts: dict = {}
    if os.path.isdir(path):
        for d in sorted(os.listdir(path)):
            if not d.startswith(f"{part_col}="):
                continue
            files = sorted(
                fn
                for fn in os.listdir(f"{path}/{d}")
                if not fn.startswith(("_", "."))
            )
            if files:
                parts[d.split("=", 1)[1]] = files
    manifest = {
        **prior,
        **(meta or {}),
        "version": uuid.uuid4().hex,
        "part_col": part_col,
        "parts": parts,
    }
    tmp = f"{path}/.{MANIFEST_NAME}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    _fs_rename(tmp, f"{path}/{MANIFEST_NAME}")
    return manifest


class _MidSwap(Exception):
    """A committed snapshot's files did not all resolve: a swap is in
    flight or a writer died mid-swap."""


def _read_committed(
    path: str, part_col: str, read, retries: int = 40, wait_sec: float = 0.05
):
    """The readers' snapshot loop: read the manifest and return
    ``read(manifest)``. ``read`` raises :class:`_MidSwap` when files the
    manifest names are gone: a swap is in flight (the writer renamed
    dirs but has not refreshed the manifest yet) or a writer died
    mid-swap. Then re-read the manifest and retry, up to ``retries``.
    A completing swap converges (its manifest refresh lands and the
    new snapshot verifies); a crashed one keeps the stale manifest
    until the next mutation's entry recovery rolls the data back and
    refreshes — until then this fails LOUD instead of returning a
    partial view. A directory with no manifest raises
    ``FileNotFoundError`` (:func:`read_manifest`)."""
    import time

    last = None
    for _ in range(retries):
        try:
            return read(read_manifest(path, part_col))
        except _MidSwap as e:
            last = str(e)
        time.sleep(wait_sec)
    raise RuntimeError(
        f"{path}: could not materialize one committed snapshot through "
        f"{retries} attempts — a writer is mid-swap (retry once it "
        f"commits) or died mid-swap (any mutator's entry recovery heals "
        f"the store). Last observation: {last}"
    )


def _present_files(
    path: str, part_col: str, manifest: dict, parts
) -> "list[str]":
    """The manifest's data files of ``parts``, or :class:`_MidSwap` if
    any is missing."""
    files = [
        f"{path}/{part_col}={k}/{fn}"
        for k in sorted(parts)
        for fn in manifest["parts"].get(k, ())
    ]
    if not all(os.path.isfile(p) for p in files):
        raise _MidSwap("the manifest names files that are missing")
    return files


def _recorded_schema(manifest: dict, part_col: str):
    """The manifest's recorded ``StructType``, the partition column
    last, as a read of the files puts it."""
    import json

    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    return StructType(
        [f for f in schema if f.name != part_col] + [schema[part_col]]
    )


def open_snapshot(spark, path: str, part_col: str) -> "tuple[DataFrame, dict]":
    """Reader-side committed-snapshot OPEN: return ``(df, manifest)``
    — a DataFrame over exactly the data files the manifest names
    (partition column included, so partition predicates still reach
    the scan as ``PartitionFilters``) and the manifest it resolved.
    The files are read with the manifest's recorded ``schema``, not
    parquet footer inference, so no Spark job runs at open (Spark
    still lists more than ~32 paths in a parallel job); data columns
    keep the recorded order and the partition column comes last with
    its recorded type. A committed-empty store (every partition taken
    down) opens as an empty DataFrame of the recorded schema; a
    directory with no manifest raises ``FileNotFoundError``
    (:func:`read_manifest`). Missing files re-resolve or fail loud
    (:func:`_read_committed`).

    Why a VERIFIED open and not just ``spark.read.parquet(*files)``:
    Spark checks the explicit paths on the DRIVER (missing files are
    a loud PATH_NOT_FOUND), but the subsequent leaf-file listing runs
    as a PARALLEL JOB above ~32 paths, and that bulk listing SILENTLY
    DROPS any path deleted between the driver check and the executor
    stat ("was it deleted very recently?" is a log warning, not an
    error — regardless of ignoreMissingFiles). A swap racing that
    window hands back a partial FileIndex with no error: the r12
    decade race probe measured a 3,904-file resolve materializing
    1,728 inputFiles and aggregating 45% of the store, silently. So
    after building the DataFrame we compare ``df.inputFiles()``
    against the resolved list and RE-RESOLVE on mismatch.

    Scope: one consistent snapshot at open time. The DataFrame is
    lazy; a mutation committing between the open and the job's file
    reads surfaces as missing-file errors (fail loud). Long-running
    readers overlapping many mutations are the transactional
    format's job.
    """

    def read(manifest):
        schema = _recorded_schema(manifest, part_col)
        files = _present_files(path, part_col, manifest, manifest["parts"])
        if not files:
            return spark.createDataFrame([], schema), manifest
        try:
            df = spark.read.schema(schema).option("basePath", path).parquet(
                *files
            )
            n_indexed = len(df.inputFiles())
        except Exception as e:  # driver-side PATH_NOT_FOUND mid-swap
            if "PATH_NOT_FOUND" not in str(e):
                raise
            raise _MidSwap(f"driver existence check: {e}") from None
        if n_indexed != len(files):
            raise _MidSwap(
                f"file index holds {n_indexed} of {len(files)} resolved files"
            )
        return df, manifest

    return _read_committed(path, part_col, read)


def read_partitions(path: str, part_col: str, parts, columns, filters):
    """Driver-side read of some partitions of one committed snapshot,
    with no Spark job: a ``pyarrow.Table`` of ``columns`` over the
    data files the manifest names for the partition values
    ``parts(manifest)`` returns, row-filtered by the pyarrow
    ``filters`` (row groups whose min/max stats miss are skipped).
    ``parts`` is a function of the manifest so a probe hashes with
    the arity of the snapshot it reads. The same manifest resolve and
    missing-file retry as :func:`open_snapshot`
    (:func:`_read_committed`); a snapshot with none of those files
    reads as an empty table of the recorded schema.
    """
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    def read(manifest):
        want = {str(p) for p in parts(manifest)}
        files = _present_files(path, part_col, manifest, want)
        if not files:
            schema = to_arrow_schema(_recorded_schema(manifest, part_col))
            return schema.empty_table().select(columns)
        try:
            return pq.read_table(files, columns=columns, filters=filters)
        except FileNotFoundError as e:
            raise _MidSwap(f"pyarrow read: {e}") from None

    return _read_committed(path, part_col, read)


def purge_swap_orphans(path: str) -> "list[str]":
    """Reseed-time crash-artifact purge: delete every orphaned
    ``<path>.tmp-swap-*`` sibling WITHOUT rolling it back. An
    overwrite reseed (``write_index_store`` / ``write_ivf_cells``)
    replaces the store wholesale, so the pre-crash state a
    :func:`recover_partition_swaps` rollback would restore is
    irrelevant — but an orphan that SURVIVES the reseed is a time
    bomb: the next mutator's entry recovery would move the pre-crash
    retired copies in OVER the freshly-seeded partitions, silently
    resurrecting stale data. Called inside the seeding lease, before
    the overwrite. Returns the purged sibling names."""
    base = os.path.basename(path.rstrip("/"))
    parent = os.path.dirname(path.rstrip("/")) or "."
    purged = []
    if not os.path.isdir(parent):
        return purged
    for d in sorted(os.listdir(parent)):
        if d.startswith(f"{base}.tmp-swap-"):
            shutil.rmtree(f"{parent}/{d}", ignore_errors=True)
            purged.append(d)
    return purged


def recover_partition_swaps(path: str, part_col: str) -> "list[str]":
    """Executable crash recovery for orphaned mid-swap tmp dirs — the
    reconciliation :func:`swap_partition_dirs` leaves as a manual
    point, made a routine. Strategy: ROLL BACK to the pre-batch state.
    The swap only runs inside a maintenance batch whose checkpoint
    commits strictly after the swap returns, so a tmp that outlived
    its process belongs to an UNcommitted batch — the stream will
    replay it; restoring the retired copies (and discarding any
    rewritten partitions that already landed) returns the store to
    exactly the state that replay expects.

    Per orphaned ``<path>.tmp-swap-*`` sibling, for every
    ``retired-<part_col>=v`` inside it: the live dir currently holds
    either nothing (crash between rename-aside and rename-in) or the
    new copy (crash after this partition committed but before the
    batch finished) — both roll back by moving the retired copy in.
    Plain ``<part_col>=v`` entries are rewritten copies never renamed
    in; the live dir still holds the old state (or the partition is
    legitimately new), so they are dropped with the tmp. Idempotent
    and safe to call when nothing is orphaned (returns []).

    The streaming maintenance loops call this before every fold, so
    a crash-restart cycle self-heals without an operator in the loop.
    """
    base = os.path.basename(path.rstrip("/"))
    parent = os.path.dirname(path.rstrip("/")) or "."
    recovered = []
    if not os.path.isdir(parent):
        return recovered
    for d in sorted(os.listdir(parent)):
        if not d.startswith(f"{base}.tmp-swap-"):
            continue
        tmp = f"{parent}/{d}"
        for entry in sorted(os.listdir(tmp)):
            if not entry.startswith(f"retired-{part_col}="):
                continue
            v_dir = entry[len("retired-"):]
            live = f"{path}/{v_dir}"
            if os.path.isdir(live):  # the new copy landed: discard it
                shutil.rmtree(live)
            os.rename(f"{tmp}/{entry}", live)
        shutil.rmtree(tmp)
        recovered.append(d)
    if recovered and os.path.isfile(f"{path}/{MANIFEST_NAME}"):
        # the rollback may have undone a state the manifest already
        # described (crash between the manifest refresh and the tmp
        # cleanup) — re-derive it from the healed listing so readers
        # converge instead of failing on retired file names
        refresh_manifest(path, part_col)
    return recovered
