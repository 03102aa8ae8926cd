"""The distributed prefix-sum primitive.

A running sum over a globally-ordered stream is the textbook
single-partition trap: Spark plans an un-partitioned window as ONE
task holding the whole stream. This module is the scale-correct
replacement, shared by every ordered-accumulation operator in the
repo (sweep-line concurrency, exact AUC, quantile normalization):

  1. range-bucket the rows by equi-depth cuts on a numeric ordering
     column, taken from ONE mergeable ``percentile_approx`` sketch
     (partial-aggregated — per-cut exact percentiles would each
     buffer the whole axis in the final aggregator; cut placement
     affects bucket BALANCE only, never results, because every
     consumer proves bucket-count invariance in tests),
  2. run the prefix window PARTITIONED by bucket — parallel,
  3. turn the ≤ ``buckets``-row ledger of per-bucket totals into
     exclusive offsets with a window over the ledger (tiny by
     construction),
  4. broadcast the ledger back: global prefix = local + offset.

Rows sharing the cut column's value always share a bucket (cuts
compare on it alone), so any ordering that starts with the cut
column is safe. The bucketed row set is persisted before the two
passes — the window pass and the ledger pass MUST see one set of
sketch cuts (sketch merge order is not guaranteed deterministic;
divergent cuts between passes would corrupt the offsets).

All integer math when the summed column is integral — callers keep
exact-oracle semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bucketed_prefix_sum"]


def bucketed_prefix_sum(
    df: DataFrame,
    cut_col: str,
    order_cols: Sequence[Column | str],
    value_col: str,
    out_col: str,
    *,
    inclusive: bool = True,
    buckets: int = 32,
    also: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` over the
    global ``order_cols`` order, computed with the bucketed plan
    above. ``inclusive`` includes the current row (frame
    ``UNBOUNDED PRECEDING..CURRENT``); exclusive stops one before.

    ``cut_col`` must be numeric and monotone in the leading component
    of ``order_cols`` (equal to it, or a coarsening like its
    epoch-second floor): rows tied on it share a bucket, so the
    within-bucket window sees every tie group whole. The result is persisted (it feeds at least two
    consumers in every caller); callers treat it as query-lifetime
    cache, mirroring ``bm25_rank``.

    ``also``: extra ``(value_col, out_col)`` pairs accumulated over
    the SAME order in the same pass — the window node evaluates all
    sums over one sort, the ledger carries one total per pair, and
    one broadcast join attaches every offset. A caller needing k
    prefix sums over one axis pays one sketch + one window pass
    instead of k chained calls (k sorts, k ledgers, k joins —
    vocab_growth_curve's former shape).
    """
    pairs = [(value_col, out_col), *also]
    if buckets >= 2:
        # backtick-quote the identifier, embedded backticks doubled:
        # any top-level column name (spaces, reserved words, backticks)
        # parses as that one column. This matches F.col(cut_col) only
        # for non-dotted names — a dotted name is one literal
        # top-level column here, not F.col's struct-field path.
        quoted = cut_col.replace("`", "``")
        fracs = [b / buckets for b in range(1, buckets)]
        cuts = df.agg(
            F.percentile_approx(F.col(f"`{quoted}`"), fracs, 10_000).alias("_qs")
        )
        # One SQL string parsed JVM-side instead of a (buckets-1)-term
        # F.when chain built Column-by-Column: the chain is ~180 py4j
        # round-trips of pure driver latency — measured 2.3-5.5 s per
        # call on a loaded host vs 0.3-0.7 s for the string form —
        # paid by EVERY prefix-sum consumer on every plan build (the
        # simhash_signatures construction finding, OPTIMIZATION_r13
        # §7, applied to the shared primitive). Identical expression
        # tree: IF(x > q, 1, 0) == WHEN(x > q, 1).OTHERWISE(0),
        # nulls included (null comparison -> false -> 0 on both).
        pid = F.expr(
            " + ".join(
                f"IF(`{quoted}` > _qs[{i}], 1, 0)"
                for i in range(buckets - 1)
            )
        )
        ev = df.crossJoin(F.broadcast(cuts)).select(
            pid.alias("_pid"), df["*"]
        )
    else:
        # buckets=1: the naive single-partition prefix (the test
        # equality anchor).
        ev = df.select(F.lit(0).alias("_pid"), "*")
    # One materialization, one set of cuts — see module docstring.
    ev = ev.persist()
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = ev.select(
        "*",
        *[
            F.coalesce(F.sum(v).over(w_local), F.lit(0)).alias(f"_loc{i}")
            for i, (v, _) in enumerate(pairs)
        ],
    )
    ledger = ev.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_tot{i}") for i, (v, _) in enumerate(pairs)]
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = ledger.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_tot{i}").over(w_off), F.lit(0)).alias(
                f"_off{i}"
            )
            for i in range(len(pairs))
        ],
    )
    out = local.join(F.broadcast(offs), "_pid")
    for i, (_, oc) in enumerate(pairs):
        out = out.withColumn(oc, F.col(f"_loc{i}") + F.col(f"_off{i}"))
    return out.drop(
        "_pid",
        *[f"_loc{i}" for i in range(len(pairs))],
        *[f"_off{i}" for i in range(len(pairs))],
    )
