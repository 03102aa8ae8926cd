"""The one store format and the one commit for every maintained state.

Every stored state a maintenance loop keeps current is a partitioned
store of this one format: the term-hash-bucketed text index
(partition col ``bucket``, ``operators/inverted_index.py``), the IVF
embedding cell store (``cell``, ``operators/similarity.py``), the
semantic dup log (``batch``), and two one-partition states whose
constant ``part`` column readers drop — the Misra-Gries summary
(``streaming/sketches.py``) and the IVF codebook
(``streaming/ingest.py``). This module owns what they share: the
store format, the commit on a bare filesystem, and the reader's
snapshot open.

Format: a partitioned store is its ``<part_col>=v/`` directories plus
``_mii_manifest.json`` — ``version``, ``part_col``, ``parts`` (the
live data files per partition), ``schema`` (the written
``StructType`` JSON) and, for the index store, ``n_buckets`` (the
term-hash arity). The manifest alone says which files are live, as
an Iceberg snapshot does: a file it does not name is garbage.
Readers open the snapshot it names (:func:`open_snapshot`), and a
directory without a manifest is not a store — readers and mutators
refuse it, naming the seed writer.

Every write is one commit (:func:`swap_partition_dirs`): stage the
DataFrame ``partitionBy(part_col)`` in a unique ``<path>.tmp-*``
sibling, move each staged data file and its Hadoop ``.crc`` into its
live partition directory, rename in a manifest naming the kept prior
files plus the moved ones, then delete every file the manifest does
not name. The manifest rename is the only commit point: before it
the old snapshot's files are untouched, after it the batch is
committed and stays committed. The three entry points differ only in
what they keep: :func:`seed_store` keeps nothing,
:func:`rewrite_partitions` keeps every partition its plan does not
touch, :func:`append_partitions` keeps every file but its own
``batch-<id>.parquet``. Each runs the same deletion at entry, which
is the whole crash recovery.

At 100 TB the same bodies run against a transactional table format
(Iceberg/Delta partition-level REPLACE and APPEND); this commit is
the filesystem-only stand-in for that format's, and
:func:`mutation_lease` is the stand-in for its writer-concurrency
control — every mutator and maintenance fold holds it, so the
entry-time deletion can safely assume every file the manifest does
not name belongs to a DEAD writer.
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
# os.rename to die at every COMMIT call in turn) don't count the
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
    """Single-writer guard for store mutations. Every writer's first
    act is the entry-time deletion of every file the committed
    manifest does not name (:func:`_delete_unnamed`), which treats any
    ``<path>.tmp-*`` sibling and any unnamed partition file as the
    leftovers of a DEAD writer. That is only sound if writers never
    overlap: a second live writer's entry would delete the first
    writer's staged or moved files mid-commit, and the first writer's
    manifest would then name files that are gone. This lease makes
    the single-writer discipline executable: concurrent mutation
    fails loud instead of corrupting.

    Mechanics: a ``<path>.mutation-lease`` sibling dir holding the
    writer's pid, created fully-formed via staging-dir + atomic
    rename (a half-created lease is never visible). If the lease
    exists and its pid is a LIVE process, raise; if the pid is dead
    (a writer that crashed inside its lease), heal the lease and
    proceed — the entry deletion inside the new lease heals the
    data. Re-entrant within a process, so a maintenance fold can
    hold it around its whole batch while the leaf mutator re-enters.

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
                    "writer's entry would delete the files of its "
                    "in-flight commit. Run one maintenance loop per "
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
                        "writer's entry would delete the files of its "
                        "in-flight commit. Run one maintenance loop "
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
    """Seed (or reseed) a partitioned store with ``df``
    ``partitionBy(part_col)``: a commit that keeps nothing of the prior
    store, with ``meta`` and ``df``'s schema in its manifest. The
    caller lays ``df`` out (file count and sort order per partition);
    this owns the commit.

    Seeding is a mutation too, so it holds the lease: reseeding a
    store a live maintenance fold is committing to loses the fold's
    batch. A reseed that dies before its manifest rename leaves the
    prior store readable; a first seed that dies there leaves a
    directory with no manifest, which every reader and mutator
    refuses until a re-run of the seed.
    """
    with mutation_lease(path):
        _delete_unnamed(path, part_col)
        swap_partition_dirs(
            path, df, part_col, {}, {**(meta or {}), "schema": df.schema.json()}
        )


def rewrite_partitions(
    spark, path: str, part_col: str, plan, meta: "dict | None" = None
) -> "list":
    """Rewrite only the partitions a batch touches: under the lease,
    delete what a dead writer left (:func:`_delete_unnamed`), open the
    committed snapshot (:func:`open_snapshot`, which refuses a
    directory with no manifest), then call ``plan(snapshot,
    manifest)``. The plan returns ``(affected, rewritten)``: the
    partition values the batch touches and a DataFrame of every row
    those partitions hold afterwards, partition column included. If
    anything is affected, one commit keeps every other partition's
    exact files and replaces the affected ones with ``rewritten``,
    recording ``meta`` in the manifest. Returns ``affected``.
    """
    with mutation_lease(path):
        _delete_unnamed(path, part_col)
        snapshot, manifest = open_snapshot(spark, path, part_col)
        affected, rewritten = plan(snapshot, manifest)
        if affected:
            gone = {str(v) for v in affected}
            kept = {k: v for k, v in manifest["parts"].items() if k not in gone}
            swap_partition_dirs(path, rewritten, part_col, kept, meta)
        return affected


def append_partitions(
    df: DataFrame, path: str, part_col: str, batch_id: int
) -> None:
    """Idempotent batch-keyed APPEND: one commit that keeps every
    file of the store but this batch's own and names each partition's
    one new file ``<part_col>=v/batch-<batch_id>.parquet``, with
    ``df``'s schema in the manifest — which this append creates when
    it births the store, so every store carries one from its first
    batch.

    A replayed batch recomputes the same rows and replaces its own
    files instead of appending duplicates — the filesystem analog of
    a transactional sink keyed by batch id. A directory with no
    manifest is taken as empty: it can only be a first append that
    died before its manifest rename.
    """
    own = f"batch-{batch_id}.parquet"
    with mutation_lease(path):
        _delete_unnamed(path, part_col)
        try:
            prior = read_manifest(path, part_col)["parts"]
        except FileNotFoundError:
            prior = {}
        kept = {k: [f for f in v if f != own] for k, v in prior.items()}
        # repartition on the partition column: each value's rows land
        # in one task, so each partition dir gets exactly one file
        swap_partition_dirs(
            path,
            df.repartition(part_col),
            part_col,
            kept,
            {"schema": df.schema.json()},
            own,
        )


def swap_partition_dirs(
    path: str,
    df: DataFrame,
    part_col: str,
    kept: dict,
    meta: "dict | None" = None,
    name: "str | None" = None,
) -> None:
    """The one commit every store write makes; callers hold the lease.
    Write ``df`` ``partitionBy(part_col)`` into a unique
    ``<path>.tmp-*`` sibling, move each staged data file with its
    Hadoop ``.crc`` into its live partition directory (under ``name``
    if given: one file per partition), rename in a manifest whose
    ``parts`` are ``kept`` plus the moved files, then delete every
    file that manifest does not name (:func:`_delete_unnamed`).

    The manifest rename is the commit point. Before it, the old
    snapshot's files are untouched and the moved ones are garbage no
    reader opens; after it, the batch is committed, and a crash only
    leaves garbage the next writer's entry deletes. So a reader sees
    the old snapshot or the new one, never a mix, and no crash
    anywhere loses a committed row. A moved file never lands on a
    live name (staged names are unique per write) except a replayed
    append's own ``batch-<id>.parquet``, whose rows are the same; its
    old checksum goes first, so no reader pairs new bytes with it.

    The name is kept from the directory swap this commit replaced:
    the benchmark's tracer wraps it as its ``store.swap`` span.
    Untouched partitions keep their exact files (pytest-pinned by
    file listing in both stores' test suites). What is out of scope
    on a bare filesystem is isolation for long-running readers: a job
    still reading files a LATER commit deleted fails loud on the
    missing file; the transactional format this stands in for keeps
    them until snapshot expiry.
    """
    base = path.rstrip("/")
    tmp = f"{base}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.partitionBy(part_col).parquet(tmp)
    parts = {k: list(v) for k, v in kept.items()}
    os.makedirs(base, exist_ok=True)
    for d in sorted(os.listdir(tmp)):
        if not d.startswith(f"{part_col}="):
            continue
        files = sorted(
            f for f in os.listdir(f"{tmp}/{d}") if not f.startswith(("_", "."))
        )
        if name is not None and len(files) > 1:
            raise RuntimeError(f"{tmp}/{d}: {len(files)} files for one {name}")
        os.makedirs(f"{base}/{d}", exist_ok=True)
        for fn in files:
            live = name or fn
            crc = f"{base}/{d}/.{live}.crc"
            if os.path.exists(crc):
                os.remove(crc)
            os.rename(f"{tmp}/{d}/{fn}", f"{base}/{d}/{live}")
            if os.path.exists(f"{tmp}/{d}/.{fn}.crc"):
                os.rename(f"{tmp}/{d}/.{fn}.crc", crc)
            parts.setdefault(d.split("=", 1)[1], []).append(live)
    refresh_manifest(base, part_col, parts, meta)
    _delete_unnamed(base, part_col)


def _delete_unnamed(path: str, part_col: str) -> None:
    """Delete every ``<path>.tmp-*`` sibling and, when the store has a
    manifest, every partition file and directory the manifest does
    not name (a named file's ``.crc`` stays with it). Run by every
    writer at entry, under the lease, and at the end of every commit:
    at entry it is the whole crash recovery, because a dead writer's
    files are unnamed until its manifest rename and garbage after it.
    A directory with no manifest keeps its partition files: nothing
    says which of them are garbage.
    """
    base = path.rstrip("/")
    parent, stem = os.path.split(base)
    parent = parent or "."
    if os.path.isdir(parent):
        for d in sorted(os.listdir(parent)):
            if d.startswith(f"{stem}.tmp-"):
                p = f"{parent}/{d}"
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
    try:
        parts = read_manifest(base, part_col)["parts"]
    except FileNotFoundError:
        return
    for d in sorted(os.listdir(base)):
        if not d.startswith(f"{part_col}="):
            continue
        named = set(parts.get(d.split("=", 1)[1], ()))
        if not named:
            shutil.rmtree(f"{base}/{d}")
            continue
        named |= {f".{fn}.crc" for fn in named}
        for fn in sorted(os.listdir(f"{base}/{d}")):
            if fn not in named:
                os.remove(f"{base}/{d}/{fn}")


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
    path: str, part_col: str, parts: dict, meta: "dict | None" = None
) -> dict:
    """The commit point: rename in a manifest naming ``parts`` (the
    live data files per partition value; empty partitions are
    dropped). Called by :func:`swap_partition_dirs` inside the lease,
    after its files are in place. The manifest is written to a
    ``<path>.tmp-*`` sibling first, so the rename swaps one complete
    file for another, and a writer that dies before the rename leaves
    only garbage the next writer's entry deletes. This is the
    bare-filesystem stand-in for a transactional format's snapshot
    pointer (an Iceberg metadata.json at 100 TB), as the lease stands
    in for its commit protocol.

    ``meta`` holds the fields a writer records — ``schema``
    (``StructType.json()``, so a COMMITTED-EMPTY store reads as an
    empty DataFrame of the right shape), for the index store
    ``n_buckets``, and the Misra-Gries fold's last ``batch_id``.
    Every other field of the prior manifest carries forward, so a
    rewrite that holds no seed metadata keeps what the seed recorded.
    """
    import json

    try:
        prior = read_manifest(path, part_col)
    except FileNotFoundError:
        prior = {}
    manifest = {
        **prior,
        **(meta or {}),
        "version": uuid.uuid4().hex,
        "part_col": part_col,
        "parts": {k: sorted(v) for k, v in sorted(parts.items()) if v},
    }
    tmp = f"{path.rstrip('/')}.tmp-{uuid.uuid4().hex[:8]}.json"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, f"{path}/{MANIFEST_NAME}")
    return manifest


class _MidSwap(Exception):
    """A manifest named files that are gone: a commit landed and
    deleted them between the manifest read and the file read."""


def _read_committed(
    path: str, part_col: str, read, retries: int = 40, wait_sec: float = 0.05
):
    """The readers' snapshot loop: read the manifest and return
    ``read(manifest)``. ``read`` raises :class:`_MidSwap` when files the
    manifest names are gone: a commit landed after the manifest read
    and deleted the files of the older snapshot. Then re-read the
    manifest and retry, up to ``retries``; the new snapshot's files
    stay until a later commit, so the retry converges. A manifest
    whose files stay missing (removed outside the store) fails LOUD
    instead of returning a partial view. A directory with no manifest
    raises ``FileNotFoundError`` (:func:`read_manifest`)."""
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
        f"{retries} attempts — commits kept deleting the files of the "
        f"snapshot read (mid-swap), or the manifest names files removed "
        f"outside the store. Last observation: {last}"
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
    error — regardless of ignoreMissingFiles). A commit deleting the
    older snapshot's files in that window hands back a partial FileIndex with no error: the r12
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
        except Exception as e:  # a commit deleted a file since the resolve
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
