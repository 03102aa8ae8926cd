"""Data-quality column profiling: the health gate a pipeline runs
before ingesting a new batch into a 100 TB corpus.

One aggregate pass computes per-column completeness (null counts),
cardinality, and value ranges; the wide single-row aggregate is then
unpivoted to one row per column. Everything is builtin expressions —
the only cost beyond a plain scan is the multi-column exact
``count_distinct`` (Catalyst plans it as an Expand; swap to
``approx_count_distinct`` when profiling hundreds of columns at
cluster scale — the plan shape is otherwise identical).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["column_profile", "chi_square_independence", "binary_auc", "quantile_normalize", "gini_coefficient", "anova_f", "bootstrap_ci"]

# scores and values quantize to this grid before exact integer math
_QUANT = 10**6


def column_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column profile: ``column, n_rows, n_null, n_distinct,
    min_value, max_value`` (min/max rendered as strings so mixed
    column types share one output schema).

    Single wide aggregate → unpivot. No shuffle beyond the one
    global aggregate; column pruning keeps the scan at exactly
    ``cols``.
    """
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_cnt_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_mn_{c}"),
            F.max(c).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _cnt_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    return wide.select(
        F.col("_n"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) "
            "AS (column, _cnt, n_distinct, min_value, max_value)"
        ),
    ).select(
        "column",
        F.col("_n").alias("n_rows"),
        (F.col("_n") - F.col("_cnt")).alias("n_null"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns — the feature-association screen (is
    event_type independent of day-of-week? is label independent of
    source?) a curation pipeline runs before trusting a stratified
    split.

    One partial-agg groupBy builds the contingency table, which is
    then DENSIFIED to the full |A|·|B| grid (distinct-A × distinct-B,
    observed cells left-joined, zeros filled): a zero-observed cell
    still carries its full expected mass, and dropping it silently
    understates the statistic — e.g. a diagonal 2×2 would report
    n/2 instead of n. The grid is small by definition for
    categoricals; margins derive from it with window sums (never a
    second scan of the data). Each cell's ``(observed − expected)² /
    expected`` is a fixed chain of IEEE ops on exact integer counts,
    quantized to the 1e-9 grid (``floor(x·1e9 + 0.5)`` — the repo's
    cross-engine quantizer) and summed as exact BIGINT, so the
    statistic is order-independent and bit-identical across engines.

    Output (one row): ``n_rows, n_cells, dof, chi2`` (``n_cells`` =
    grid size |A|·|B|, counting the zero cells).

    NULL categories are excluded up front (standard complete-case
    test semantics). Left in, they would poison the grid: a NULL
    level enters via ``distinct()`` but never matches the
    non-null-safe left join, so its observed counts silently read
    zero while ``n_cells``/``dof`` count the phantom level.
    """
    df = df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    observed = df.groupBy(col_a, col_b).agg(F.count("*").alias("_obs"))
    grid = (
        df.select(col_a).distinct().crossJoin(df.select(col_b).distinct())
    )
    cells = grid.join(observed, [col_a, col_b], "left").select(
        col_a, col_b, F.coalesce("_obs", F.lit(0)).alias("_o")
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    wt = Window.partitionBy()
    with_m = cells.select(
        "_o",
        F.sum("_o").over(wa).alias("_ra"),
        F.sum("_o").over(wb).alias("_cb"),
        F.sum("_o").over(wt).alias("_n"),
        F.count("*").over(wt).alias("_cells"),
        (
            (F.size(F.collect_set(col_a).over(wt)) - 1)
            * (F.size(F.collect_set(col_b).over(wt)) - 1)
        ).alias("_dof"),
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_n").cast("double")
    )
    d = F.col("_o").cast("double") - e
    q = F.floor(d * d / e * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    return with_m.agg(
        F.max("_n").alias("n_rows"),
        F.max("_cells").cast("bigint").alias("n_cells"),
        F.max("_dof").cast("bigint").alias("dof"),
        (F.sum(q).cast("double") / F.lit(1e9)).alias("chi2"),
    )


def binary_auc(
    df: DataFrame,
    score_col: F.Column,
    positive_col: F.Column,
    buckets: int = 32,
) -> DataFrame:
    """EXACT ROC-AUC of a score against a binary label at any scale —
    the classifier-eval metric a curation pipeline computes over a
    full corpus (quality-filter scores vs. held-out labels), not a
    sampled approximation of it.

    AUC is the Mann-Whitney U statistic normalized: with per-score
    counts (n1 = positives, n0 = negatives at that score) and
    ``cum0(s)`` = negatives strictly below ``s``,

        2·U = Σ_s (2·cum0(s)·n1(s) + n0(s)·n1(s)),
        AUC = 2U / (2·N1·N0)          (ties get the standard ½ credit)

    — all EXACT integers until the one final double division.

    Scale shape: scores quantize to the 1e-6 grid (ties merge; the
    ranking metric is insensitive below the grid) and aggregate to
    one row per distinct score — the only full-data shuffle. The
    prefix ``cum0`` then runs as the DISTRIBUTED prefix sum of
    :func:`~mapreduce_inverted_index_spark.operators.prefix.bucketed_prefix_sum`:
    equi-depth range buckets from one mergeable ``percentile_approx``
    sketch over the score axis (cut placement affects balance only,
    never the result), per-bucket exclusive window sums in parallel,
    a ≤ ``buckets``-row ledger of bucket totals turned into offsets,
    broadcast back. No global sort, no single-partition window over
    the axis.

    Output (one row): ``n_pos, n_neg, auc``.
    """
    q = F.floor(score_col.cast("double") * F.lit(float(_QUANT)) + F.lit(0.5)).cast(
        "bigint"
    )
    y = F.when(positive_col, 1).otherwise(0)
    g = df.select(q.alias("_s"), y.alias("_y")).groupBy("_s").agg(
        F.sum("_y").alias("_n1"),
        (F.count("*") - F.sum("_y")).alias("_n0"),
    )
    # g feeds the cuts aggregate, the prefix window, and the ledger;
    # persist so the score scan+agg runs once (the bm25_rank lesson).
    g = g.persist()
    from mapreduce_inverted_index_spark.operators.prefix import (
        bucketed_prefix_sum,
    )

    cum = bucketed_prefix_sum(
        g,
        "_s",
        ["_s"],
        "_n0",
        "_cum0",
        inclusive=False,
        buckets=buckets,
    ).select("_n1", "_n0", "_cum0")
    agg = cum.agg(
        F.sum("_n1").alias("n_pos"),
        F.sum("_n0").alias("n_neg"),
        F.sum(
            F.lit(2) * F.col("_cum0") * F.col("_n1")
            + F.col("_n0") * F.col("_n1")
        ).alias("_u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("_u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def quantile_normalize(
    df: DataFrame,
    id_col: str,
    score_col: F.Column,
    buckets: int = 32,
) -> DataFrame:
    """Quantile (rank) normalization of a score column: each row's
    score becomes its mid-rank percentile ``(below + ties/2) / N``
    (the Hazen plotting position) — the feature transform that makes
    heterogeneous quality signals comparable before mixing them into
    one curation score, robust to any monotone distortion of the
    raw scale.

    Scores quantize to the 1e-6 grid and aggregate to one row per
    distinct value; the strictly-below counts come from the shared
    :func:`~mapreduce_inverted_index_spark.operators.prefix.bucketed_prefix_sum`
    primitive (exclusive prefix, parallel per-bucket windows — no
    global sort); percentiles map back onto the rows with one join
    on the quantized score. Everything is exact integers until one
    double division, so the DuckDB oracle (a naive global window)
    matches bit-for-bit.

    Output: ``<id_col>, pct`` (pct ∈ (0, 1), round(6)).
    """
    from mapreduce_inverted_index_spark.operators.prefix import (
        bucketed_prefix_sum,
    )

    q = F.floor(score_col.cast("double") * F.lit(float(_QUANT)) + F.lit(0.5)).cast(
        "bigint"
    )
    v = df.select(F.col(id_col), q.alias("_q"))
    g = v.groupBy("_q").agg(F.count("*").alias("_n"))
    cum = bucketed_prefix_sum(
        g, "_q", ["_q"], "_n", "_below", inclusive=False, buckets=buckets
    )
    # "_ntot", not "_N": Spark resolves case-insensitively by default,
    # so "_N" would collide with the per-score "_n".
    tot = g.agg(F.sum("_n").alias("_ntot"))
    pct = cum.crossJoin(F.broadcast(tot)).select(
        "_q",
        F.round(
            (F.lit(2) * F.col("_below") + F.col("_n")).cast("double")
            / (F.lit(2.0) * F.col("_ntot").cast("double")),
            6,
        ).alias("pct"),
    )
    return v.join(pct, "_q").select(id_col, "pct")


def gini_coefficient(
    df: DataFrame,
    value_col: F.Column,
    buckets: int = 32,
) -> DataFrame:
    """Exact Gini coefficient of a non-negative integer value column
    — the concentration profile (how top-heavy is revenue per
    customer / tokens per domain / samples per source?) a curation
    pipeline tracks to catch a corpus collapsing onto a few heavy
    contributors.

    Rank formulation, tie-safe: with ascending ranks 1..n,

        G = 2·Σ rankᵢ·xᵢ / (n·Σx) − (n + 1)/n

    and for a distinct value ``v`` with count ``c`` and ``below``
    items strictly smaller, its rank block contributes
    ``v·(c·below + c(c+1)/2)`` — independent of how ties are
    ordered, so the statistic is deterministic. Values aggregate to
    one row per distinct value (the only full-data shuffle); the
    strictly-below counts come from the shared
    :func:`~mapreduce_inverted_index_spark.operators.prefix.bucketed_prefix_sum`
    primitive (exclusive prefix, parallel windows). All sums are
    exact DECIMAL(38,0) (the rank-weighted terms overflow BIGINT at
    scale); one final fixed-order double expression, round(6).

    Output (one row): ``n_items, total_value, gini``.
    """
    from mapreduce_inverted_index_spark.operators.prefix import (
        bucketed_prefix_sum,
    )

    g = (
        df.select(value_col.cast("bigint").alias("_v"))
        .groupBy("_v")
        .agg(F.count("*").alias("_c"))
    )
    cum = bucketed_prefix_sum(
        g, "_v", ["_v"], "_c", "_below", inclusive=False, buckets=buckets
    )
    vd = F.col("_v").cast("decimal(18,0)")
    cd = F.col("_c").cast("decimal(18,0)")
    # The rank-block sum c·below + c(c+1)/2 stays in BIGINT (c(c+1)
    # is always even, so `div 2` is exact); only the v· product runs
    # in decimal — Spark's decimal DIVISION would widen the scale
    # and walk the precision-loss path.
    rank_block = F.expr("_c * _below + (_c * (_c + 1)) div 2").cast(
        "decimal(18,0)"
    )
    agg = cum.agg(
        F.sum("_c").alias("n_items"),
        F.sum(vd * cd).alias("_s"),
        F.sum(vd * rank_block).alias("_s1"),
    )
    n = F.col("n_items").cast("double")
    s = F.col("_s").cast("double")
    s1 = F.col("_s1").cast("double")
    return agg.select(
        "n_items",
        F.col("_s").cast("double").alias("total_value"),
        F.round(
            F.lit(2.0) * s1 / (n * s) - (n + F.lit(1.0)) / n, 6
        ).alias("gini"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: F.Column,
) -> DataFrame:
    """One-way ANOVA F statistic of a numeric column across a
    categorical grouping — the numeric-by-category association
    screen completing the family (chi-square: cat × cat; AUC:
    score × binary): does this feature's mean actually differ
    across labels/sources, or is the split noise?

    Values quantize to the 1e-6 grid; per-group sufficient
    statistics (n, Σq, Σq²) are EXACT decimal sums from ONE
    partial-agg groupBy. The cross-group reductions then follow the
    chi-square discipline: each group's ``(Σq)²/n`` runs as a fixed
    double chain, quantizes to the 1e-3 grid (``floor(x·1e3+0.5)``),
    and sums as exact BIGINT — order-independent where a raw double
    sum across groups is not. SSB/SSW/F are a final fixed-order
    double expression on the 1-row rollup.

        F = (SSB / (k−1)) / (SSW / (N−k)),   η² = SSB / SST

    Output (one row): ``n_rows, k_groups, f_stat, eta_sq``.
    """
    q = F.floor(value_col.cast("double") * F.lit(float(_QUANT)) + F.lit(0.5)).cast(
        "bigint"
    )
    per = (
        df.select(F.col(group_col).alias("_g"), q.alias("_q"))
        .groupBy("_g")
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col("_q").cast("decimal(18,0)")).alias("_s"),
            F.sum(
                F.col("_q").cast("decimal(18,0)")
                * F.col("_q").cast("decimal(18,0)")
            ).alias("_ss"),
        )
    )
    term = (
        F.col("_s").cast("double") * F.col("_s").cast("double")
        / F.col("_n").cast("double")
    )
    tq = F.floor(term * F.lit(1e3) + F.lit(0.5)).cast("bigint")
    agg = per.agg(
        F.sum("_n").alias("n_rows"),
        F.count("*").alias("k_groups"),
        F.sum(F.col("_s")).alias("_st"),
        F.sum(F.col("_ss")).alias("_sst"),
        F.sum(tq).alias("_tq"),
    )
    n = F.col("n_rows").cast("double")
    k = F.col("k_groups").cast("double")
    grand = F.col("_st").cast("double")
    ss_total_raw = F.col("_sst").cast("double")
    groups_term = F.col("_tq").cast("double") / F.lit(1e3)
    ssb = groups_term - grand * grand / n
    ssw = ss_total_raw - groups_term
    sst = ss_total_raw - grand * grand / n
    f_stat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    return agg.select(
        "n_rows",
        "k_groups",
        F.round(f_stat, 6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


def bootstrap_ci(
    df: DataFrame,
    value_col: F.Column,
    key_cols: Sequence[str],
    n_reps: int = 32,
    quant: int = 100,
) -> DataFrame:
    """Resampling-based uncertainty for a corpus-scale mean — the
    answer to "the mean moved 0.3% since last snapshot; is that
    noise?" that point aggregates can't give. Deterministic
    half-sample bootstrap: replicate ``r`` keeps a row iff
    ``md5_long(key₁:…:keyₙ:r) % 2 == 0`` — reproducible across
    engines/partitionings/reruns (the repo's md5 discipline), no RNG
    state, no sequential reservoir.

    Distribution shape: ONE scan, ONE aggregate, zero shuffles of
    data rows. Each row is hashed ONCE (md5 is the expensive step —
    hashing per (row, replicate) measured 32× the scan cost);
    replicate ``r``'s coin flip is BIT ``r`` of that one hash
    (``(h >> r) & 1``), independent uniform bits. The replicate axis
    is 2·n_reps conditional aggregate expressions (bit-guarded
    count/sum) riding the same partial aggregation as the full-data
    mean — no explode of data rows (an explode-then-groupBy draft
    streamed n_reps× the corpus into the aggregation and measured
    ~4× slower). ``n_reps`` is capped at 48 (the md5-prefix hash
    carries 60 bits). All replicate sums are exact decimals;
    replicate means quantize to the 1e-6 grid (``floor(x·1e6+0.5)``,
    the chi-square/ANOVA discipline) so the cross-replicate variance
    is exact integer math and order-independent.

    CI construction: half-samples estimate Var(half-sample mean) ≈
    2·Var(full mean), so the replicate spread is deflated by √2
    (delete-half jackknife family):

        ci = full_mean ± 1.96 · sd_replicates / √2

    Output (one row): ``n_rows, n_reps, full_mean, sd_reps, ci_lo,
    ci_hi`` (means rounded to 6; all engine-portable).
    """
    if not (2 <= n_reps <= 48):
        raise ValueError(f"n_reps must be in [2, 48], got {n_reps}")
    qv = F.floor(value_col.cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast(
        "bigint"
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", *[F.col(c) for c in key_cols])), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    base = df.select(qv.alias("_q"), h.alias("_h"))
    # ONE aggregate, 2·n_reps + 2 conditional expressions: replicate
    # r's (count, sum) guarded by its hash bit, plus the full-data
    # (count, sum). No explode of data rows, no shuffle — the plan
    # is scan → partial agg → 1-row final, and the per-row cost is
    # n_reps branch-free bit tests (measured ~4× faster than the
    # explode-then-groupBy form, which streamed n_reps× the corpus
    # into the aggregation).
    # The 2·n_reps replicate aggregates and the unpivot array are
    # generated as SQL strings parsed JVM-side — as nested Column ops
    # the two loops cost ~600 py4j round-trips of plan-construction
    # latency per call (the simhash_signatures / prefix-primitive
    # finding). Identical expressions: IF((h>>r)&1 = 0, ...) ==
    # WHEN(shiftright(h,r)&1 == 0, ...), and the no-otherwise WHEN's
    # NULL matches the explicit NULL branch.
    aggs = [
        F.count("*").alias("n_rows"),
        F.expr("sum(CAST(_q AS DECIMAL(18,0))) AS _sf"),
    ]
    for r in range(n_reps):
        cond = f"(shiftright(_h, {r}) & 1) = 0"
        aggs.append(F.expr(f"sum(IF({cond}, 1, 0)) AS _n{r}"))
        aggs.append(
            F.expr(
                f"sum(IF({cond}, CAST(_q AS DECIMAL(18,0)), NULL)) "
                f"AS _s{r}"
            )
        )
    wide = base.agg(*aggs)
    # Unpivot the 1-row wide result to one row per replicate (tiny).
    rep_rows = wide.select(
        "n_rows",
        "_sf",
        F.expr(
            "explode(array("
            + ", ".join(
                f"struct(_n{r} AS _n, _s{r} AS _s)" for r in range(n_reps)
            )
            + "))"
        ).alias("_rep"),
    ).where(F.col("_rep._n") > 0)
    mq = F.floor(
        F.col("_rep._s").cast("double")
        / F.col("_rep._n").cast("double")
        / F.lit(float(quant))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    out = rep_rows.select("n_rows", "_sf", mq.alias("_mq")).groupBy(
        "n_rows", "_sf"
    ).agg(
        F.count("*").alias("n_reps"),
        F.sum(F.col("_mq").cast("decimal(19,0)")).alias("_sm"),
        F.sum(
            F.col("_mq").cast("decimal(19,0)")
            * F.col("_mq").cast("decimal(19,0)")
        ).alias("_smm"),
    )
    b = F.col("n_reps").cast("double")
    sm = F.col("_sm").cast("double")
    smm = F.col("_smm").cast("double")
    var = (smm - sm * sm / b) / (b - F.lit(1.0)) / F.lit(1e12)
    sd = F.sqrt(var)
    mean = (
        F.col("_sf").cast("double")
        / F.col("n_rows").cast("double")
        / F.lit(float(quant))
    )
    half = F.lit(1.96) * sd / F.sqrt(F.lit(2.0))
    return out.select(
        "n_rows",
        "n_reps",
        F.round(mean, 6).alias("full_mean"),
        F.round(sd, 6).alias("sd_reps"),
        F.round(mean - half, 6).alias("ci_lo"),
        F.round(mean + half, 6).alias("ci_hi"),
    )
