"""Write-path operators: snapshot upsert (MERGE semantics),
deterministic training-shard assignment, and per-group reservoir
sampling.

A 100 TB corpus is not rebuilt nightly — it is *merged into*: a
base snapshot plus a (much smaller) delta of upserts and deletes,
resolved last-writer-wins. And it is not read row-by-row by the
trainer — it is sharded into fixed-count hash shards with a
manifest. These are the lakehouse-tier counterparts of the
reference's one-shot "write the final index JSON" sink
(``reducer/src/reducer.py``), re-expressed as declarative plans.

Determinism contract shared with the rest of the repo: anything a
DuckDB oracle must replay uses md5-derived ordering/bucketing (both
engines implement md5 identically; Spark's xxhash64/hash do not
exist in DuckDB), and every tiebreak is total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "snapshot_merge",
    "scd2_history",
    "shard_manifest",
    "group_sample",
]


def snapshot_merge(
    base: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Last-writer-wins MERGE: one surviving row per key — the
    highest ``_version`` across base ∪ delta (ties broken toward
    the delta side, then by a stable hash of the row so the result
    is total-order deterministic) — with tombstoned keys
    (``_deleted`` true on the winner) dropped entirely.

    Shape at scale: ONE shuffle on the merge key (the window's
    partitionBy); the delta never needs to fit in memory and the
    base is never rewritten row-by-row on the driver. This is the
    compaction step of an incremental pipeline — pair it with
    ``inverted_index.merge_index`` (delta index build + full-outer
    merge) for the index-side equivalent.

    Both inputs must share a schema containing ``key_cols``,
    ``_version`` and ``_deleted``. The final tiebreak hashes
    the WHOLE row (not the key — that is constant within the window
    partition), so even two same-key same-version rows on the same
    side resolve identically under any partitioning or retry.
    """
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        delta.withColumn("_src", F.lit(1))
    )
    row_hash = F.md5(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in base.columns])
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_version").desc(),
        F.col("_src").desc(),
        row_hash,
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(~F.col("_deleted"))
        .drop("_rn", "_src")
    )


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse a
    change-record stream ``(key, ts, attr)`` into versioned validity
    intervals ``key, attr, effective_from, effective_to, is_current``
    — the dimension-table form every warehouse keeps so facts can
    join "the value as of that time" (pair with
    ``asof.asof_join`` for the lookup side).

    Semantics: within each key, records ordered by ``(ts, tiebreak)``;
    a record opens a new interval iff its ``attr_col`` differs from
    the previous record's (run-length collapse — re-stating the same
    value is not a change). ``effective_to`` is the next interval's
    ``effective_from`` (half-open ``[from, to)``); the last interval
    has ``effective_to`` NULL and ``is_current`` true.

    Shape at scale: ONE shuffle on the key (both windows share the
    exact same partitioning and ordering, so Catalyst plans a single
    Exchange + sort and runs the lag and lead passes over it). The
    tiebreak column must make the ordering total — same-(key, ts)
    duplicates would otherwise make lag/lead nondeterministic under
    retries.
    """
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(F.col(attr_col)).over(w)
    opens = changes.withColumn(
        "_is_change", prev.isNull() | (F.col(attr_col) != prev)
    ).where(F.col("_is_change"))
    # After the filter the same (partitionBy, orderBy) window ranks
    # the surviving change points; lead() closes each interval.
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        opens.withColumn("effective_to", F.lead(F.col(ts_col)).over(w2))
        .select(
            *key_cols,
            F.col(attr_col),
            F.col(ts_col).alias("effective_from"),
            "effective_to",
            F.col("effective_to").isNull().alias("is_current"),
        )
    )


def _md5_long(col: F.Column) -> F.Column:
    """First 15 hex chars of md5 as a non-negative bigint — the
    cross-engine deterministic hash (same construction as
    ``curation._md5_bucket``)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int,
) -> DataFrame:
    """Training-shard manifest: assign every row to
    ``md5(id) mod n_shards`` and roll up per shard: ``shard,
    n_rows, total_bytes, min_id, max_id``.

    The assignment is a pure scan-side expression — no shuffle to
    *assign*, one aggregation shuffle of ``n_shards`` + partial rows
    to build the manifest. The write path this models is
    ``df.repartition(n_shards, shard).write`` (hash-partitioned
    shards of near-equal size — md5 equidistributes ids regardless
    of id clustering, which range-partitioning would inherit).
    """
    shard = F.pmod(_md5_long(F.col("doc_id")), F.lit(n_shards)).alias("shard")
    return (
        df.select(shard, F.col("doc_id").alias("_id"), "*")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").alias("total_bytes"),
            F.min("_id").alias("min_id"),
            F.max("_id").alias("max_id"),
        )
    )


def group_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic uniform-ish sample of ``n_per_group`` rows per
    group: rank rows inside each group by ``md5(id)`` (a fixed
    random-but-reproducible order, independent of partitioning and
    engine) and keep the first ``n_per_group``.

    This is the distributed replacement for reservoir sampling:
    same guarantee (every subset of size n equally likely under the
    hash's uniformity), but expressible as one windowed shuffle on
    the group key instead of a stateful sequential pass — and
    re-runnable to the byte, which audits require and true
    reservoirs can't offer. Output: the sampled rows plus their
    ``sample_rank``.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per_group)
    )
