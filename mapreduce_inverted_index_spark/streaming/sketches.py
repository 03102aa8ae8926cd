"""Stream-maintained frequency sketches: the unbounded-input analog
of ``operators.sketches.frequent_items``.

A batch job can always re-scan for the exact verify; a stream
cannot. The standing pattern is: maintain a BOUNDED Misra-Gries
summary as streaming state (k counters, merged per micro-batch —
MG merge is associative, undercount ≤ N/(k+1) total), and run the
exact verify as a batch join against the canonical table whenever
an answer is needed. Candidates are a guaranteed superset of the
true φ-heavy items at every point in the stream, so the verify
never misses — the same two-phase contract as the batch operator,
with phase 1 incremental.

State lives as a tiny Parquet table (≤ k rows) swapped per batch —
the filesystem stand-in for a transactional state table, committed
through a whole-dir retire-aside swap (:func:`_swap_flat_dir`) with
entry-time orphan recovery (:func:`recover_flat_swaps`). It is the
one flat (unpartitioned) stored state; the index and cell stores are
partitioned and manifest-committed (``operators.store``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.text import terms

__all__ = [
    "docs_stream",
    "mg_merge_summaries",
    "maintain_frequent_terms_available_now",
    "verified_heavy_terms",
]


def docs_stream(
    spark: SparkSession, sf_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """The documents table as an unbounded stream (file-stream source
    over the fixture directory, same pattern as ``events_stream``).
    ``glob`` widens to e.g. ``*.parquet`` for landing directories
    where document shards arrive as separate files."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )


def mg_merge_summaries(summary: DataFrame, batch_counts: DataFrame, k: int) -> DataFrame:
    """Associative Misra-Gries merge: add counts, then if more than
    ``k`` counters survive, subtract the (k+1)-th largest count and
    drop non-positives. Inputs/outputs: ``(term, n)`` with ≤ k rows
    out. Both inputs are tiny (summary ≤ k, batch counts ≤ batch
    vocabulary), so these are small-table ops regardless of stream
    volume."""
    merged = (
        summary.unionByName(batch_counts)
        .groupBy("term")
        .agg(F.sum("n").alias("n"))
    )
    cut = (
        merged.orderBy(F.desc("n"), F.asc("term"))
        .limit(k + 1)
        .agg(F.when(F.count("*") > k, F.min("n")).otherwise(F.lit(0)).alias("cut"))
    )
    return (
        merged.crossJoin(F.broadcast(cut))
        .select("term", (F.col("n") - F.col("cut")).alias("n"))
        .where(F.col("n") > 0)
    )


def _swap_flat_dir(df: DataFrame, live_dir: str, tag: str) -> None:
    """Crash-safe whole-dir commit for the FLAT (unpartitioned) MG
    state: write to a uuid tmp, rename the live dir ASIDE, rename the
    tmp in, then drop the retired copy — nothing is unlinked until
    the new dir is live, so a kill at any point leaves a complete
    copy on disk (live, ``.retired-*``, or ``.tmp-*``). The
    partition-level twin is ``operators.store.swap_partition_dirs``.

    Readers need no manifest here, unlike the partitioned stores
    (``store.refresh_manifest``): the whole state is ONE directory
    swapped by whole-dir renames, so a reader's listing resolves
    entirely against a single dir incarnation — it sees the complete
    old state, the complete new state, or fails loud (dir missing in
    the two-rename window; old files unlinked under a scan that
    listed pre-swap). A MIXED view would need per-partition renames,
    which flat state doesn't have.
    """
    import uuid

    u = uuid.uuid4().hex[:8]
    tmp = live_dir.rstrip("/") + f".tmp-{tag}-{u}"
    retired = live_dir.rstrip("/") + f".retired-{tag}-{u}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(live_dir):
        os.rename(live_dir, retired)
    os.rename(tmp, live_dir)
    shutil.rmtree(retired, ignore_errors=True)


def recover_flat_swaps(live_dir: str) -> "list[str]":
    """Executable crash recovery for :func:`_swap_flat_dir` orphans —
    the flat-store twin of ``store.recover_partition_swaps``. A swap
    that died mid-commit leaves one of three states, each with a
    complete copy on disk; this rolls the store back (or finishes
    cleanup) so a restarted maintenance loop just replays the
    uncommitted batch:

    - tmp present, live present: crash during the tmp WRITE — the
      live dir is untouched; drop the partial tmp.
    - tmp present, live missing: crash between rename-aside and
      rename-in — restore the retired copy, or when no retired copy
      exists (the swap was the FIRST-ever write) drop the tmp so the
      state is simply absent again. Rollback in both cases, never
      roll-forward: the replayed batch re-derives the new state, and
      rolling the tmp in would make a non-idempotent fold (e.g. the
      MG count merge) double-count its replay.
    - retired present, no tmp: crash after commit, before cleanup —
      the live dir is the new state; drop the retired copy.

    ``.tmp-swap-*`` siblings are the PARTITIONED store's orphans and
    belong to ``recover_partition_swaps`` — skipped here. Idempotent;
    returns the orphan dirs handled. The MG fold calls this before
    every merge, so crash-restart self-heals."""
    base = os.path.basename(live_dir.rstrip("/"))
    parent = os.path.dirname(live_dir.rstrip("/")) or "."
    recovered: list = []
    if not os.path.isdir(parent):
        return recovered
    tmps: dict = {}
    retireds: dict = {}
    for d in os.listdir(parent):
        if d.startswith(f"{base}.tmp-swap-"):
            continue
        if d.startswith(f"{base}.tmp-"):
            tmps[d[len(base) + 5:]] = d
        elif d.startswith(f"{base}.retired-"):
            retireds[d[len(base) + 9:]] = d
    live_exists = os.path.isdir(live_dir)
    for key, d in sorted(tmps.items()):
        tmp = f"{parent}/{d}"
        if live_exists:
            shutil.rmtree(tmp)
        elif key in retireds:
            os.rename(f"{parent}/{retireds.pop(key)}", live_dir)
            shutil.rmtree(tmp)
            live_exists = True
        else:
            # first-ever write died pre-commit: rollback = no state
            shutil.rmtree(tmp)
        recovered.append(d)
    for key, d in sorted(retireds.items()):
        if live_exists:
            shutil.rmtree(f"{parent}/{d}")
        else:
            os.rename(f"{parent}/{d}", live_dir)
            live_exists = True
        recovered.append(d)
    return recovered


def maintain_frequent_terms_available_now(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    checkpoint_path: str,
    k: int,
    glob: str = "documents.parquet",
) -> None:
    """One AvailableNow pass: fold each micro-batch's exact term
    counts into the persisted MG summary (≤ k rows). Each pass
    processes exactly the files that arrived since the last one;
    the summary after any number of passes is a valid MG summary of
    everything ingested so far (merge associativity)."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        # heal any crashed prior commit BEFORE reading the state: the
        # old rmtree-then-rename commit here could lose the live state
        # to a mid-commit crash, and the replay would then silently
        # merge into EMPTY state — the swap + entry recovery makes
        # that window a clean rollback-and-replay instead
        from mapreduce_inverted_index_spark.operators.store import (
            mutation_lease,
        )

        # single-writer guard: a concurrent fold's entry recovery
        # would roll back this fold's in-flight swap
        with mutation_lease(state_dir):
            recover_flat_swaps(state_dir)
            counts = (
                batch_df.select(
                    F.explode(
                        terms("text", keep_duplicates=True)
                    ).alias("term")
                )
                .groupBy("term")
                .agg(F.count("*").alias("n"))
            )
            if os.path.isdir(state_dir):
                merged = mg_merge_summaries(
                    sess.read.parquet(state_dir), counts, k
                )
            else:
                merged = mg_merge_summaries(counts.limit(0), counts, k)
            _swap_flat_dir(merged, state_dir, f"mg-{batch_id}")

    q = (
        docs_stream(spark, sf_dir, glob)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def verified_heavy_terms(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    phi: float,
    glob: str = "documents.parquet",
) -> DataFrame:
    """Phase 2: exact recount of the streamed candidates against the
    canonical table, thresholded at ``ceil(φ·N)`` — equals batch
    ``GROUP BY HAVING`` exactly because the MG state is a guaranteed
    candidate superset. The only shuffle carries candidate keys
    (broadcast semi-join), mirroring ``sketches.frequent_items``."""
    import decimal

    docs = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
    toks = docs.select(
        F.explode(terms("text", keep_duplicates=True)).alias("term")
    )
    cand = spark.read.parquet(state_dir).select("term").distinct()
    total = toks.agg(F.count("*").alias("_n"))
    phi_exact = F.lit(decimal.Decimal(str(phi)))
    return (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").alias("n_occ"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occ") >= F.ceil(F.col("_n") * phi_exact))
        .select("term", "n_occ")
    )
