"""Time-series joins Spark lacks as builtins: as-of and band joins,
composed from existing DataFrame ops (the SURVEY §4.3 guidance:
composition first, Pandas UDFs only if semantics demand).

**As-of join** (each left row ↔ most recent right row at-or-before
its timestamp) via the union trick:

    tag both sides → union → per-key window ordered by (time, side)
    → ``last(right_cols, ignoreNulls)`` carries the latest right
    value forward → keep left rows.

One shuffle on the key (the window), no range-explosion, no skew
beyond the key's own — the standard scalable formulation. A
merge-join-per-key ``applyInPandas`` variant would trade JVM window
state for Python; unnecessary here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "keyless_band_self_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    right_key: str | None = None,
) -> DataFrame:
    """For each left row: the ``right_vals`` of the most recent right
    row with ``right_ts <= left_ts`` for the same key (``key`` on the
    left, ``right_key`` — default ``key`` — on the right); nulls when
    none. Ordering puts right rows before left rows at equal
    timestamps, so same-instant matches are included.

    The right payload travels as ONE struct column: ``last(_r,
    ignoreNulls)`` then skips only *left* rows (whose struct is NULL),
    never a right row that legitimately carries NULL values — and the
    window orders by the struct as a final tiebreak, so multiple right
    rows at the same (key, ts) resolve deterministically (greatest
    payload wins) instead of by partition-arrival order.
    """
    from pyspark.sql.types import StructField, StructType

    right_key = right_key or key
    r_struct = StructType(
        [StructField(c, right.schema[c].dataType) for c in right_vals]
    )
    lt = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        "*",
        F.lit(None).cast(r_struct).alias("_r"),
    )
    rt = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in left.schema.fields],
        F.struct(*[F.col(c) for c in right_vals]).alias("_r"),
    )
    unioned = lt.unionByName(rt)
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_side", "_r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*", F.last("_r", ignorenulls=True).over(w).alias("_asof")
    )
    return carried.where(F.col("_side") == 1).select(
        *[F.col(f.name) for f in left.schema.fields],
        *[F.col("_asof").getField(c).alias(f"asof_{c}") for c in right_vals],
    )


def keyless_band_self_join(
    df: DataFrame,
    id_col: str,
    ts: str,
    max_gap_seconds: int,
) -> DataFrame:
    """All id-ordered row pairs whose timestamps differ by at most
    ``max_gap_seconds`` — with NO equi key. Output: ``id_a, id_b,
    gap_seconds`` (gap on floored epoch seconds).

    The naive plan for a keyless band predicate is a
    BroadcastNestedLoopJoin / cartesian — O(n²) compares and a
    broadcast of a whole side, both fatal at 100 TB. This uses the
    standard time-grid trick to make it a HASH join:

    * bucket each row into a bin of width ``max_gap_seconds``
      (``floor(epoch_sec / gap)``);
    * two rows within the band are always in the same or adjacent
      bins, so replicate ONE side to bins {b-1, b, b+1} via
      ``explode`` (3× one side, never n²) and equi-join on the
      other side's own bin;
    * re-check the exact band predicate after the join.

    Each qualifying pair surfaces exactly once: the replica set
    covers the partner's bin at exactly one of the three offsets,
    and the ``id_a < id_b`` filter (applied with ``id_a`` from the
    replicated side) kills the mirror orientation.

    At scale the bin is the shuffle key — per-bin group size is the
    row count per ``max_gap_seconds`` of time, so output stays
    Σ|bin|·|adjacent bins| and a hot instant is ordinary key skew
    (AQE split / salting), not a plan catastrophe.
    """
    if max_gap_seconds < 1:
        raise ValueError(
            f"max_gap_seconds must be >= 1, got {max_gap_seconds}"
        )
    sec = F.unix_timestamp(F.col(ts))
    binned = df.select(
        F.col(id_col).alias("_id"),
        sec.alias("_s"),
        F.floor(sec / F.lit(max_gap_seconds)).alias("_b"),
    )
    replicated = binned.select(
        F.col("_id").alias("id_a"),
        F.col("_s").alias("_sa"),
        F.explode(
            F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)
        ).alias("_bin"),
    )
    probe = binned.select(
        F.col("_id").alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_b").alias("_bin"),
    )
    gap = F.abs(F.col("_sb") - F.col("_sa"))
    return (
        replicated.join(probe, "_bin")
        .where((F.col("id_a") < F.col("id_b")) & (gap <= max_gap_seconds))
        .select("id_a", "id_b", gap.cast("bigint").alias("gap_seconds"))
    )
