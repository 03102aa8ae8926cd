"""Reusable relational operators (SURVEY.md §2.9: everything the
reference lacks, provided Spark-natively).

These are thin, deliberately declarative compositions — the engine's
job is to hand Catalyst a plan it can optimize (pushdown, join
reordering, partial aggregation), not to schedule anything by hand.

Scale notes baked into each operator:
  * ``join_dim`` broadcasts dimension tables explicitly — at 100 TB
    the fact side never shuffles for a small-dim join.
  * ``top_k_per_group`` uses a window with a UNIQUE tiebreak order —
    nondeterministic top-k is a correctness bug waiting for a retry.
  * ``global_top_k`` is sort+limit: Spark plans TakeOrderedAndProject
    (per-partition heap + driver merge), O(k) memory, no full sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "join_dim",
    "top_k_per_group",
    "global_top_k",
    "sessionize",
    "ewma",
    "gap_fill_daily",
    "pareto_frontier_2d",
    "group_trend_slope",
    "peak_concurrency",
    "ols2_fit",
    "transition_matrix",
]


def join_dim(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Inner fact↔dimension join; the dimension is broadcast so the
    fact side stays un-shuffled (map-side hash join)."""
    return fact.join(F.broadcast(dim), on)


def _cols(cols: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
) -> DataFrame:
    """Top-k rows per group via ``row_number``; caller must make
    ``order_by`` a total order (include a unique key)."""
    w = Window.partitionBy(*group_by).orderBy(*_cols(order_by))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def global_top_k(df: DataFrame, order_by: Sequence[Column | str], k: int) -> DataFrame:
    """Global top-k — planned as TakeOrderedAndProject, never a full
    cluster-wide sort."""
    return df.orderBy(*_cols(order_by)).limit(k)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_s: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: assign ``sess_no`` per key.

    A new session starts when the gap to the previous event (whole
    seconds, epoch floor) EXCEEDS ``gap_s`` — a gap of exactly
    ``gap_s`` stays in the session. Adds ``sess_no`` (1-based INT).

    Both the lag and the running sum share one window over
    ``key_col``; Catalyst plans a single exchange, so the whole
    assignment costs one shuffle regardless of data size. Events with
    equal timestamps are ordered by ``tiebreak_col`` (pass a unique
    id for fully deterministic numbering).
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    ts_s = F.col(ts_col).cast("timestamp").cast("long")
    prev = F.lag(ts_s).over(w)
    new_sess = F.when(prev.isNull() | ((ts_s - prev) > gap_s), 1).otherwise(0)
    return df.withColumn(
        "sess_no",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    lookback: int = 8,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average per key — the sequential
    feature (recency-weighted activity level) a training pipeline
    derives from an event stream: ``ewma_t = α·v_t + (1−α)·ewma_{t−1}``
    seeded with the window's oldest value.

    The recursion is SEQUENTIAL — no closed-form window aggregate
    computes it without overflow-prone ``(1−α)^(−i)`` rescaling — so
    it runs as a higher-order-function FOLD over the last
    ``lookback`` values collected per row: ``collect_list`` over a
    bounded rows-frame (frame order = the window's ORDER BY in both
    engines), then ``aggregate(tail, head, fold)``. Bounding the
    frame at ``lookback`` both caps the per-row cost (the dropped
    terms carry weight ≤ (1−α)^lookback — sub-float-noise for any
    practical α) and keeps the state O(lookback), the same
    truncation a streaming implementation would make.

    Determinism: the fold's float-op sequence is identical in Spark
    and DuckDB (same order, same IEEE doubles). The 6-place rounding
    is ``floor(x·10⁶ + 0.5)/10⁶`` — IEEE-specified ops only —
    because ``round()`` DIVERGES here: α=0.5 folds produce exact
    decimal ties (…5 at the 7th digit), and Spark rounds the binary
    expansion while DuckDB rounds the shortest decimal rendering.
    The ordering must be total — pass a unique ``tiebreak_col``.
    One shuffle on the key. Adds ``ewma_value``.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    vals = F.collect_list(F.col(value_col).cast("double")).over(w)
    folded = F.aggregate(
        F.slice(vals, 2, lookback),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    rounded = F.floor(folded * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return df.withColumn("ewma_value", rounded)


def gap_fill_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_agg: Column,
) -> DataFrame:
    """Densify a per-key daily series and forward-fill the gaps.

    The time-series regularization step (feature stores, training-data
    label joins): aggregate events to (key, day) with ``value_agg``,
    build each key's complete calendar spine between its first and
    last active day (``sequence`` + ``explode`` — generated
    executor-side, never a driver loop), left-join the observations
    back, and carry the last observed value across missing days with
    ``last(ignorenulls)`` over an UNBOUNDED PRECEDING window.

    Scale: the spine is O(keys x days-of-range) rows of (long, date)
    — dwarfed by the input event table it densifies. All three wide
    ops (daily rollup, spine join, fill window) hash on ``key_col``,
    so AQE coalesces them onto one partitioning; the rollup's partial
    aggregate combines map-side. No driver-side calendar, no
    cross join against a global date dimension (each key's spine is
    clipped to ITS OWN active range — a global spine would be mostly
    NULL rows at 100 TB, all shuffled for nothing).

    Adds ``day_value`` (NULL on gap days), ``filled_value``
    (forward-filled), ``is_gap``.
    """
    daily = (
        df.withColumn("day", F.to_date(F.col(ts_col)))
        .groupBy(key_col, "day")
        .agg(value_agg.alias("day_value"))
    )
    bounds = daily.groupBy(key_col).agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    spine = bounds.select(
        key_col, F.explode(F.sequence("_d0", "_d1")).alias("day")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, [key_col, "day"], "left")
        .withColumn("filled_value", F.last("day_value", ignorenulls=True).over(w))
        .withColumn("is_gap", F.col("day_value").isNull())
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D Pareto skyline, both dimensions MAXIMIZED: rows not
    strictly dominated by any other row (``x' >= x AND y' >= y`` with
    at least one strict). Duplicated points are all kept (equal rows
    don't dominate each other).

    Sort-based skyline, not the O(n²) dominance self-join: a row is
    dominated iff (a) some row shares its ``x`` with a strictly
    larger ``y`` — killed by comparing against the per-``x`` max —
    or (b) some row has a strictly larger ``x`` and a ``>=`` ``y``
    — killed by the running max of per-``x`` maxes over the
    descending-``x`` axis. So:

      keep  iff  y = max_y(x)  AND  (no x' > x  OR  y > max_{x'>x} max_y(x'))

    Cost shape: one partial-aggregating groupBy on ``x`` (the only
    full-data shuffle), then a window over the DISTINCT-``x`` axis —
    |distinct x| rows, typically orders of magnitude below |df| (a
    date axis at 100 TB is still thousands of rows), then a
    broadcast-joinable axis table mapped back onto the data. The
    single-partition window is over that tiny axis only, never the
    fact table; for a near-unique continuous ``x`` axis, range-sort
    the axis and run the running max as a two-pass
    partition-prefix-max instead (same algebra; the merge table is
    one row per partition). d > 2 skylines compose this pairwise or
    fall back to block-local-skyline + merge — at d = 2 the sort
    formulation is exact and one-pass.
    """
    gx = df.groupBy(x_col).agg(F.max(y_col).alias("_my"))
    w = (
        Window.orderBy(F.col(x_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    axis = gx.withColumn("_pmax", F.max("_my").over(w))
    return (
        df.join(F.broadcast(axis), x_col)
        .where(
            (F.col(y_col) == F.col("_my"))
            & (F.col("_pmax").isNull() | (F.col(y_col) > F.col("_pmax")))
        )
        .drop("_my", "_pmax")
    )


def group_trend_slope(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group least-squares slope + intercept of ``y`` over an
    integer axis ``x`` (the closed-form simple regression — the
    per-segment trend extractor behind "is this nation's revenue
    rising?" dashboards and drift monitors).

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n

    Engine-exactness: ``x`` is integer (cast to DECIMAL(10,0) so the
    ``x·y`` product type never walks Spark's precision-39
    allowPrecisionLoss path) and ``y`` is quantized to DECIMAL(18,2),
    so all five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are
    EXACT decimals/bigints — order- and partitioning-independent,
    unlike a float covariance which no two engines sum in the same
    order. The exact stats then convert to double (a correctly-
    rounded conversion in every engine) and combine in a FIXED
    expression order, so every engine evaluating the same formula on
    the same exact inputs produces bit-identical doubles; round(6)
    at the end. This is one partial-agg groupBy — the
    sufficient-statistic pattern: at 100 TB the map-side combine
    reduces each partition to 5 numbers per group before the
    shuffle.
    """
    y = F.col(y_col).cast("decimal(18,2)")
    x = F.col(x_col).cast("decimal(10,0)")
    sufficient = df.groupBy(*group_cols).agg(
        F.count("*").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n_d = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    slope = (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)
    intercept = (sy - slope * sx) / n_d
    return sufficient.select(
        *group_cols,
        F.col("_n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def peak_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Peak number of simultaneously-active intervals (inclusive
    ends) and the earliest instant it occurs — the sweep-line
    classic behind "max concurrent sessions/connections/streams"
    capacity questions.

    Semantics: each interval contributes +1 at ``start`` and −1 at
    ``end``; the sweep orders by ``(ts, delta DESC)`` (+1 before −1
    at ties, so two intervals meeting at an instant count as
    overlapping — inclusive ends). The running sum after each event
    is the concurrency; output is one row ``peak_concurrency,
    peak_ts`` (earliest timestamp achieving the peak). All integer
    math — a DuckDB oracle replays the sweep with one global window.

    A global running sum is the textbook single-partition trap, so
    this is the DISTRIBUTED prefix-sum plan — now the shared
    :mod:`~mapreduce_inverted_index_spark.operators.prefix`
    primitive (the ``assign_partition_ids`` ledger discipline, kept
    fully declarative — no driver collect):

      1. range-bucket the ±1 events by equi-depth cuts from ONE
         mergeable ``percentile_approx`` sketch (partial-aggregated —
         per-cut exact percentiles would each buffer the whole axis
         in the final aggregator, the opposite of scale-safe, and
         measured 9.5 s for 31 cuts at sf0.1 vs 0.2 s for the
         sketch; cut placement only affects bucket BALANCE, never
         output values — all ties share one bucket because cuts
         compare on ``ts`` alone),
      2. per-bucket running sum (windows partitioned by bucket —
         parallel),
      3. per-bucket delta totals → exclusive prefix offsets via a
         window over the ≤ ``buckets``-row ledger (tiny by
         construction),
      4. broadcast the ledger back; global cum = local cum + offset.

    Per-event work is two parallel window passes; the only global
    object is the ``buckets``-row ledger. Peak extraction is a
    1-row aggregate + broadcast-filtered argmin — no sort of the
    event stream.
    """
    # Both ±1 boundary rows come out of ONE pass over the intervals
    # (explode of a 2-element array), not a union of two selects: a
    # union evaluates the entire upstream interval derivation (e.g. a
    # sessionization window over raw events) once per branch when the
    # persist below materializes — union branches differ in their
    # final Project, so runtime exchange reuse dedupes only the
    # scan-side Exchange, and the sort + window + aggregate above it
    # ran twice (the dup_components/pagerank r13 finding; interleaved
    # sf1 A/B, same session: executor task time 211 → 148 s, CPU
    # 70 → 53 s per run, min wall 9.3 → 3.9 s over 7 noisy passes).
    d = intervals.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("_ts"), F.lit(1).alias("_delta")
                ),
                F.struct(
                    F.col(end_col).alias("_ts"), F.lit(-1).alias("_delta")
                ),
            )
        ).alias("_e")
    ).select("_e._ts", "_e._delta")
    # Cuts over epoch seconds (percentile_disc takes NUMERIC, not
    # TIMESTAMP); flooring to the second only coarsens the buckets —
    # equal-ts rows still share one, and bucketing stays monotone.
    d = d.withColumn("_ts_s", F.col("_ts").cast("timestamp").cast("long"))
    # The ±1 stream feeds the cuts aggregate, the per-bucket window,
    # and the ledger — unpersisted, the full upstream interval
    # derivation (e.g. a sessionization window over the raw events)
    # re-executes per consumer (the bm25_rank lesson; measured 10.6 s
    # → 1.9 s at sf0.1). Persisted for the query's lifetime.
    d = d.persist()
    from mapreduce_inverted_index_spark.operators.prefix import (
        bucketed_prefix_sum,
    )

    cum = bucketed_prefix_sum(
        d,
        "_ts_s",
        ["_ts", F.col("_delta").desc()],
        "_delta",
        "_cum",
        inclusive=True,
        buckets=buckets,
    ).select("_ts", "_cum")
    # cum feeds the 1-row peak aggregate AND the argmin filter —
    # persist so the bucket windows run once, not twice.
    cum = cum.persist()
    peak = cum.agg(F.max("_cum").alias("_pk"))
    return (
        cum.crossJoin(F.broadcast(peak))
        .where(F.col("_cum") == F.col("_pk"))
        .agg(
            F.max("_cum").cast("bigint").alias("peak_concurrency"),
            F.min("_ts").alias("peak_ts"),
        )
    )


def ols2_fit(
    df: DataFrame,
    x1_col: Column,
    x2_col: Column,
    y_col: Column,
) -> DataFrame:
    """Two-feature least squares with intercept — the linear-probe
    fit (y ≈ β0 + β1·x1 + β2·x2) a training pipeline runs to ask
    "how much signal do these features carry?" — distributed as ONE
    sufficient-statistic aggregate; the 2×2 normal-equation solve is
    closed-form (Cramer), so there is no iteration, no driver-side
    data, no matrix library.

    Engine-exactness (the ``group_trend_slope`` discipline, one
    dimension up): features AND target quantize to nano-units
    (``floor(v·1e9 + 0.5)`` → DECIMAL(18,0)) so all ten sufficient
    statistics — n, Σu1, Σu2, Σw, Σu1², Σu2², Σu1u2, Σu1w, Σu2w,
    Σw² — are EXACT decimals (products stay ≤ (37,0), never walking
    Spark's precision-39 allowPrecisionLoss path), order- and
    partitioning-independent. The exact stats convert to double
    (correctly rounded everywhere) and the Cramer solve runs in a
    FIXED expression order, so any engine replaying the formula
    produces bit-identical doubles. Since x and y carry the SAME
    1e9 scale, the slopes need no rescale (β = c); the intercept
    rescales by 1e-9; r² is scale-invariant; round(6) last.

    Input contract: |x1|, |x2|, |y| < 1e9 (nano-unit quantization
    must fit DECIMAL(18,0)). Under ANSI mode (the engine default)
    a value past the bound raises at runtime. Under non-ANSI
    arithmetic it would overflow to NULL and silently drop out of
    the sums while ``count(*)`` still counts it — so the aggregate
    also counts each quantized column and NULL-poisons every
    coefficient when any row was lost, rather than returning a
    skewed fit.

    At 100 TB this is the canonical shape: map-side combine reduces
    every partition to 10 numbers, the shuffle carries 10 numbers
    per partition, and the "solve" is a scalar projection of the
    1-row aggregate. A d-feature probe generalizes via the Gram
    matrix (``embedding_gram_matrix``) + a driver-side d×d solve.

    Output (one row): ``n_points, beta0, beta1, beta2, r2``.
    """
    u1 = F.floor(x1_col.cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(18,0)"
    )
    u2 = F.floor(x2_col.cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(18,0)"
    )
    y = F.floor(y_col.cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(18,0)"
    )
    s = df.agg(
        F.count("*").alias("_n"),
        # Per-column non-null counts: a |v| >= 1e9 input overflows
        # the nano-unit DECIMAL(18,0) to NULL and would silently
        # vanish from the sums; these make that loss detectable.
        F.count(u1).alias("_c1"),
        F.count(u2).alias("_c2"),
        F.count(y).alias("_cy"),
        F.sum(u1).alias("_s1"),
        F.sum(u2).alias("_s2"),
        F.sum(y).alias("_sy"),
        F.sum(u1 * u1).alias("_s11"),
        F.sum(u2 * u2).alias("_s22"),
        F.sum(u1 * u2).alias("_s12"),
        F.sum(u1 * y).alias("_s1y"),
        F.sum(u2 * y).alias("_s2y"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    s1, s2, sy = (F.col(c).cast("double") for c in ("_s1", "_s2", "_sy"))
    s11, s22, s12 = (F.col(c).cast("double") for c in ("_s11", "_s22", "_s12"))
    s1y, s2y, syy = (F.col(c).cast("double") for c in ("_s1y", "_s2y", "_syy"))
    a11 = n * s11 - s1 * s1
    a22 = n * s22 - s2 * s2
    a12 = n * s12 - s1 * s2
    b1v = n * s1y - s1 * sy
    b2v = n * s2y - s2 * sy
    det = a11 * a22 - a12 * a12
    c1 = (b1v * a22 - b2v * a12) / det
    c2 = (b2v * a11 - b1v * a12) / det
    # x and y share the 1e9 scale → slopes are already in original
    # units; the intercept is in y-nano-units, so it rescales once.
    beta0 = (sy - c1 * s1 - c2 * s2) / n / F.lit(1e9)
    sst = n * syy - sy * sy
    r2 = (c1 * b1v + c2 * b2v) / sst
    # NULL-poison the fit if any row's quantized value overflowed
    # (see Input contract in the docstring).
    complete = (
        (F.col("_n") == F.col("_c1"))
        & (F.col("_n") == F.col("_c2"))
        & (F.col("_n") == F.col("_cy"))
    )

    def _guard(e: Column) -> Column:
        return F.when(complete, e).otherwise(F.lit(None).cast("double"))

    return s.select(
        F.col("_n").alias("n_points"),
        _guard(F.round(beta0, 6)).alias("beta0"),
        _guard(F.round(c1, 6)).alias("beta1"),
        _guard(F.round(c2, 6)).alias("beta2"),
        _guard(F.round(r2, 6)).alias("r2"),
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-key state
    sequences — the behavioral-sequence summary (what follows what)
    behind session-flow dashboards, anomalous-path detection, and
    synthetic-sequence generators.

    Each key's events, ordered by ``(ts, tiebreak)``, contribute one
    ``(prev_state → state)`` observation per consecutive pair (the
    first event of a key has no predecessor and contributes
    nothing). Output: one row per observed transition with its count
    and row-normalized probability:

        ``from_state, to_state, n_trans, p`` where
        ``p = n_trans / Σ n_trans over from_state``  (row-stochastic)

    Exactness: counts are exact BIGINTs; ``p`` is one double
    division of exact integers (correctly rounded in any engine),
    then round(6). Plan: one ``lag`` window + one partial-agg
    groupBy; the row totals come from a window over the transition
    table (|states|² rows — tiny), never a second scan. Both wide
    ops hash on ``key_col`` / the pair, so the event table shuffles
    once. The ordering must be total for a deterministic matrix —
    pass a unique ``tiebreak_col``.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.withColumn("_prev", F.lag(state_col).over(w))
        .where(F.col("_prev").isNotNull())
        .groupBy(
            F.col("_prev").alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .agg(F.count("*").alias("n_trans"))
    )
    w_row = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(w_row).cast("double"),
            6,
        ).alias("p"),
    )
