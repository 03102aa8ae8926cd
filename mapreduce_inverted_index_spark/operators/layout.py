"""Data-layout operators: Z-order (Morton) clustering keys and the
min-max pruning profile that justifies them.

At 100 TB the scan you avoid is the cheapest scan: engines prune
files by per-file min/max statistics, and pruning on TWO columns at
once requires the rows to be CLUSTERED on both — which is exactly
what sorting by an interleaved-bit (Morton/Z-order) key buys
(Delta/Iceberg ``OPTIMIZE ZORDER BY``). This module computes the
key with builtin integer expressions (deterministic, exact, oracle-
replayable) and a layout profile that measures how narrow each
would-be file's min/max envelope gets — the pruning win made
visible as a number.

Scale discipline: NO window ever touches the fact table. Grid cells
come from each dimension's value HISTOGRAM (one aggregate + a window
over distinct values, orders of magnitude smaller than the facts),
cells map back via an equi-join, and file cuts are z-prefix ranges —
pure integer arithmetic. The one genuinely global operation a real
layout rewrite needs (the sort before writing) is Spark's
``repartitionByRange``, a distributed sampled range sort, not a
single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "sql_interleave_bits",
    "grid_cells",
    "zorder_key",
    "zorder_layout_profile",
    "compaction_plan",
]


def sql_interleave_bits(x: str, y: str, bits: int = 8) -> str:
    """Morton interleave of two ``bits``-wide non-negative ints as
    one SQL expression: bit i of ``x`` lands at position 2i, of ``y``
    at 2i+1. Pure shift/mask arithmetic, no UDF; the identical text
    parses in Spark SQL and DuckDB, so the oracle replays it."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def grid_cells(df: DataFrame, col: str, bits: int = 8) -> DataFrame:
    """Exact rank-grid for one dimension: ``(value, cell)`` with
    ``cell = floor(rows_before(value) · 2^bits / N)`` — every value
    maps to one of 2^bits cells, equidistributed by ROW COUNT (a
    skewed distribution can't crowd the grid the way min-max scaling
    would let it).

    The cumulative count runs over the DISTINCT-value histogram, not
    the facts — the one window here sees |distinct| rows (for truly
    ultra-high-cardinality dimensions a real writer samples instead;
    Spark's range partitioner does exactly that). All integer math:
    ``(cum · 2^bits) / N`` is exact integer division in both engines.
    """
    hist = df.groupBy(F.col(col).alias("value")).agg(F.count("*").alias("_c"))
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n = df.agg(F.count("*").alias("_n"))
    return (
        hist.withColumn("_cum_incl", F.sum("_c").over(w))
        .crossJoin(F.broadcast(n))
        .select(
            "value",
            # `div`, not `/`: float division would be exact only
            # below 2^53 and engines could round the boundary cell
            # differently; integer division is exact everywhere.
            F.expr(f"(_cum_incl - _c) * {2**bits} div _n").alias("cell"),
        )
    )


def zorder_key(
    df: DataFrame, col_x: str, col_y: str, bits: int = 8
) -> DataFrame:
    """Append a ``z`` Morton key interleaving the two columns' rank-
    grid cells. Cell maps join back onto the facts on the value key
    (broadcast when the histogram is small, shuffle join otherwise);
    the facts are never globally sorted or windowed to get a key.
    """
    cx = grid_cells(df, col_x, bits).withColumnRenamed("cell", "_gx")
    cy = grid_cells(df, col_y, bits).withColumnRenamed("cell", "_gy")
    # The Morton fold is parsed JVM-side from one SQL string instead
    # of a 2·bits-term Column chain — one py4j call instead of ~64
    # (the prefix-primitive construction finding).
    return (
        df.join(cx.withColumnRenamed("value", col_x), col_x)
        .join(cy.withColumnRenamed("value", col_y), col_y)
        .withColumn("z", F.expr(sql_interleave_bits("_gx", "_gy", bits)))
        .drop("_gx", "_gy")
    )


def zorder_layout_profile(
    df: DataFrame,
    col_x: str,
    col_y: str,
    n_files: int = 16,
    bits: int = 8,
) -> DataFrame:
    """Profile the layout Z-order sorting would produce: cut the
    Morton key space into ``n_files`` prefix ranges (``z`` is rank-
    equidistributed, so prefix ranges hold ~equal rows — no ntile
    window needed) and report each file's min/max envelope on BOTH
    source columns plus its row count.

    Output: ``file_id, n_rows, min_x, max_x, min_y, max_y`` — the
    statistics a lakehouse writes per file. Narrow envelopes on both
    columns at once are the measurable artifact that makes two-
    dimensional min-max pruning work (a linear sort gets narrow
    envelopes on ONE column and full-range on the other). At write
    time the physical sort is ``repartitionByRange("z")`` + within-
    partition sort — distributed, never a single-partition window.
    """
    shift = 2 * bits - (n_files - 1).bit_length()
    keyed = zorder_key(df, col_x, col_y, bits).withColumn(
        "file_id", F.shiftright(F.col("z"), shift)
    )
    return keyed.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min(col_x).alias("min_x"),
        F.max(col_x).alias("max_x"),
        F.min(col_y).alias("min_y"),
        F.max(col_y).alias("max_y"),
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "size_bytes",
) -> DataFrame:
    """Small-files compaction planner (the OPTIMIZE bin-packing
    step): within each table partition, pack files in ``file_col``
    order into output jobs of ~``target_bytes`` via a running-sum
    cut — file i joins job ``floor(cumsum_before_i / target)``.

    Output: one row per planned rewrite job — ``partition, job_id,
    n_files, total_bytes, min_file_id, max_file_id`` — which a
    writer executes as one task per job (read n_files small files,
    write one ~target-size file).

    Why this shape at 100 TB: the plan runs over file METADATA (one
    row per file — a 100 TB table at 128 MB/file is ~800k rows,
    kilobytes per partition), never the data. One windowed shuffle
    on the partition key plans the entire rewrite; the expensive IO
    is then embarrassingly parallel per job. The running-sum cut is
    the same first-fit-in-listing-order policy Delta/Iceberg
    OPTIMIZE uses (jobs can exceed target by at most one file — a
    bound, not a heuristic; sorting by size first would pack
    marginally tighter but loses the listing-order streaming
    property and the deterministic replay this repo's oracles
    require).
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    jobbed = files.select(
        F.col(partition_col).alias("partition"),
        F.col(file_col).alias("_fid"),
        F.col(bytes_col).alias("_sz"),
        (F.sum(F.col(bytes_col)).over(w) - F.col(bytes_col)).alias("_cum_before"),
    ).select(
        "partition",
        "_fid",
        "_sz",
        # `div`, not `/`: byte counts exceed 2^53 at real scale and
        # float division would round the job boundary (grid_cells'
        # lesson applied to sizes).
        F.expr(f"_cum_before div {int(target_bytes)}").alias("job_id"),
    )
    return jobbed.groupBy("partition", "job_id").agg(
        F.count("*").alias("n_files"),
        F.sum("_sz").alias("total_bytes"),
        F.min("_fid").alias("min_file_id"),
        F.max("_fid").alias("max_file_id"),
    )
