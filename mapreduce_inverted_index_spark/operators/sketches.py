"""Mergeable-sketch operators: the 100 TB substitute for exact
global aggregates.

At cluster scale you never re-scan a year of raw events to answer
"distinct users per type" — you keep small pre-aggregated sketches
per (key, time-bucket) and merge them at query time. Apache
DataSketches HLL is Spark-native (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``), associative and
commutative, so the rollup parallelizes perfectly and the merge is a
tiny aggregate over sketch blobs.

The reference has no approximate aggregates at all (its only stats
are exact counts over the final index, ``reducer/src/processor.py``);
this module is part of the beyond-reference scale surface alongside
``approx_count_distinct`` (queries_relational).

Checkability: sketch binaries are engine-specific, so the oracle
surface is a TOLERANCE contract — emit the exact value next to the
estimate plus a within-band boolean the DuckDB twin asserts TRUE
(same pattern as ``approx_distinct_users``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_rollup",
    "hll_merge",
    "approx_quantiles_rank_checked",
    "frequent_items",
    "cms_build",
    "cms_estimate",
    "kmv_sketch",
    "kmv_pairwise_overlap",
    "KMV_DOMAIN",
    "log_histogram_sketch",
    "log_histogram_quantiles",
]


def hll_rollup(
    df: DataFrame,
    keys: Sequence[str],
    bucket: Column,
    value: str,
) -> DataFrame:
    """Per-(keys, bucket) HLL sketches of ``value``.

    One pass over the raw data, map-side partial sketch merges, and
    the output is O(|keys| × |buckets|) rows of ≤ 2^12-byte blobs (lgK 12) —
    the thing you persist so the raw scan never happens again.
    Output: ``*keys, bucket, sketch BINARY``.
    """
    return df.groupBy(*keys, bucket.alias("bucket")).agg(
        F.hll_sketch_agg(value, F.lit(12)).alias("sketch")
    )


def hll_merge(sketches: DataFrame, keys: Sequence[str],
              estimate_col: str = "approx_distinct") -> DataFrame:
    """Merge sketch blobs across buckets and estimate.

    The union is exact over sketch state (HLL unions lose nothing a
    single-pass sketch would have kept), so rollup-then-merge answers
    match a one-shot sketch of the union. Output: ``*keys,
    <estimate_col> BIGINT``.
    """
    return sketches.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(estimate_col)
    )


def frequent_items(items: DataFrame, col: str, phi: float) -> DataFrame:
    """EXACT φ-heavy hitters (every item with frequency ≥ φ·N) found
    without ever shuffling the full key space — the two-phase
    sketch-then-verify pattern that replaces a full ``groupBy(key)``
    at 100 TB, where the distinct-key count (vocabulary) can be
    billions but the answer is tiny.

    Phase 1 — candidates: one narrow ``mapInPandas`` pass runs a
    Misra-Gries summary per partition (k = 2/φ
    counters; batch-level exact counts merged with the standard
    MG-merge: add, subtract the (k+1)-th largest, drop ≤ 0). MG
    undercounts by at most n_p/(k+1), and an item with global
    frequency ≥ φ·N has frequency ≥ φ·n_p in at least one partition
    (averaging), so with k+1 > 1/φ the union of partition summaries
    is a GUARANTEED superset of the true heavy hitters. Wire cost:
    ≤ k rows per partition, no shuffle of the stream.

    Phase 2 — verify: exact counts restricted to the candidate set
    via a broadcast semi-join (the only shuffle carries candidate
    keys), filtered to ≥ ceil(φ·N). False candidates die here, so
    the output equals brute-force ``GROUP BY HAVING`` exactly — the
    sketch buys the plan shape, not an approximation. The threshold
    multiplies by φ as an EXACT decimal (``Decimal(str(phi))``), so
    ``ceil`` agrees with a SQL oracle's decimal literal even when
    φ·N lands on an integer (double rounding could shift ceil by 1).

    The global N rides OUT OF the candidate pass (each partition's
    summary carries its non-null row count; N = their sum), so the
    stream is consumed exactly TWICE — candidates + verify, the MG
    minimum — where a separate ``items.count()`` made it three full
    passes (for tokenize-fed callers like ``frequent_bigrams``, a
    third regex pass over the corpus; r13). The per-partition
    summary table is persisted — ≤ k+1 rows per partition, the
    cheapest possible cache — because both the candidate set and N
    read it.

    Candidate schema follows the input column's type (string keys
    yield string candidates, bigint keys bigint), so the verify
    equi-join never casts through string.

    Output: ``<col>, n_occ BIGINT`` (exact).
    """
    import decimal
    import math

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = int(math.ceil(2 / phi))

    def mg_partition(batches):
        # Counters live in a pandas Series (index = item, value =
        # MG count): batch counts come from value_counts and merge
        # via Series.add — vectorized end-to-end, no per-item loop.
        counters = None
        n_rows = 0
        for pdf in batches:
            s = pdf.iloc[:, 0]
            n_rows += int(s.count())  # non-null, matching count(col)
            vc = s.value_counts()  # drops nulls
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            if len(counters) > k:
                # MG merge step: subtract the (k+1)-th largest count,
                # drop non-positive — keeps the undercount bound.
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        if n_rows:
            # k candidate rows (partition count 0) + ONE total row
            # (_mg_cand null): the partition's contribution to the
            # global N leaves with its summary, so no separate
            # counting pass over the stream is needed. Plain python
            # lists → object columns → Arrow casts to the declared
            # types (the index preserves the source dtype, so bigint
            # keys arrive as ints, strings as str).
            cands = list(counters.index) if counters is not None else []
            yield pd.DataFrame(
                {
                    "_mg_cand": cands + [None],
                    "_part_n": [0] * len(cands) + [n_rows],
                }
            )

    mg_schema = StructType(
        [
            StructField("_mg_cand", items.schema[col].dataType),
            StructField("_part_n", LongType()),
        ]
    )
    summaries = (
        items.select(F.col(col).alias("_mg_cand"))
        .mapInPandas(mg_partition, schema=mg_schema)
        .persist()
    )
    candidates = (
        summaries.where(F.col("_mg_cand").isNotNull())
        .select("_mg_cand")
        .distinct()
    )
    total = summaries.agg(F.sum("_part_n").alias("_n"))
    phi_exact = F.lit(decimal.Decimal(str(phi)))
    return (
        items.join(
            F.broadcast(candidates), items[col] == candidates["_mg_cand"]
        )
        .groupBy(col)
        .agg(F.count("*").alias("n_occ"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occ") >= F.ceil(F.col("_n") * phi_exact))
        .select(col, "n_occ")
    )


def approx_quantiles_rank_checked(
    df: DataFrame,
    key: str,
    value: str,
    qs: Sequence[float],
) -> DataFrame:
    """Approximate per-group quantiles with a self-verifying rank bound.

    ``approx_percentile`` guarantees rank error ≤ 1/accuracy (10 000 here), not
    value error — so the checkable contract is on RANK: for each
    group and q, the fraction of rows ≤ the approximate value must
    sit within ``1/accuracy + 0.01`` of q. Output: ``<key>, q,
    within_tol`` — every row TRUE unless the sketch breaks its own
    guarantee.

    Plan: one aggregate for the quantile sketch, one broadcast join
    of the tiny per-group results back onto the fact for the rank
    count — no sort, no windowing over the full data.
    """
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    approx = df.groupBy(key).agg(
        F.approx_percentile(value, qarr, F.lit(10_000)).alias("vals")
    )
    per_q = approx.select(
        key,
        F.posexplode(
            F.arrays_zip(qarr.alias("q"), F.col("vals").alias("v"))
        ).alias("_i", "qv"),
    ).select(key, F.col("qv.q").alias("q"), F.col("qv.v").alias("v"))
    ranked = (
        df.join(F.broadcast(per_q), key)
        .groupBy(key, "q")
        .agg(
            (
                F.sum(F.when(F.col(value) <= F.col("v"), 1).otherwise(0))
                / F.count("*")
            ).alias("rank_frac")
        )
    )
    tol = 1.0 / 10_000 + 0.01  # the sketch's rank bound plus slack
    return ranked.select(
        key,
        "q",
        (F.abs(F.col("rank_frac") - F.col("q")) <= tol).alias("within_tol"),
    )


# ------------------------------------------------------ Count-Min Sketch

def _cms_bucket(col: Column, row: int, width: int) -> Column:
    """Deterministic bucket for hash row ``row``: the first 8 hex
    chars of ``md5('<row>:' || key)`` as an integer, mod width.
    Engine-portable by construction — DuckDB replays it as
    ``CAST(concat('0x', substr(md5(...),1,8)) AS UBIGINT) % width``,
    which is what makes this sketch EXACTLY oracle-checkable, not
    just contract-checkable (unusual for the sketch family: CMS has
    no float state, so fixing the hashes fixes the whole sketch)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(row)), col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % width
    )


def cms_build(
    df: DataFrame, key: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-Min Sketch of ``key``'s frequency distribution: a
    ``depth x width`` counter grid where row ``r`` adds each key's
    count at bucket ``h_r(key)``.

    The build is one partial-aggregated pass: each input row explodes
    into its ``depth`` (row, bucket) cells, and Spark's map-side
    partial aggregation collapses them to per-partition partial
    sketches (<= depth x width rows each) merged by the shuffle — the mergeability that lets 1000 executors
    each sketch their shard and combine O(depth*width) longs, never
    the raw keys. Output: ``row, bucket, cnt`` (depth*width rows
    total, the persistable sketch).
    """
    cells = [
        _cms_bucket(F.col(key), r, width).alias(f"_b{r}") for r in range(depth)
    ]
    tagged = df.select(*cells)
    stacked = tagged.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("row"), F.col(f"_b{r}").alias("bucket"))
                    for r in range(depth)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.bucket")
    return stacked.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-estimate each key in ``keys`` from a built sketch: the
    MIN over hash rows of the key's bucket counter — the classic CMS
    upper bound (est >= true always; over-count comes only from
    collisions). The sketch is depth*width rows, so it broadcasts;
    estimating any number of keys is a map-side join. Output:
    ``<key>, cms_est``.
    """
    probes = keys.select(
        F.col(key),
        *[_cms_bucket(F.col(key), r, width).alias(f"_b{r}") for r in range(depth)],
    )
    est = None
    out = probes
    for r in range(depth):
        s_r = sketch.where(F.col("row") == r).select(
            F.col("bucket").alias(f"_sb{r}"), F.col("cnt").alias(f"_cnt{r}")
        )
        out = out.join(
            F.broadcast(s_r), F.col(f"_b{r}") == F.col(f"_sb{r}"), "left"
        )
        c = F.coalesce(F.col(f"_cnt{r}"), F.lit(0))
        est = c if est is None else F.least(est, c)
    return out.select(F.col(key), est.alias("cms_est"))


# KMV hash domain: md5's first 15 hex chars -> uniform in [0, 2^60).
KMV_DOMAIN = float(1 << 60)


def kmv_sketch(
    df: DataFrame, keys: Sequence[str], value: str, k: int = 64
) -> DataFrame:
    """K-Minimum-Values distinct sketch per ``keys`` group: the k
    smallest md5 hashes of the group's distinct ``value``s, as a
    sorted BIGINT array — the sketch family member HLL can't replace,
    because KMV supports SET OPERATIONS: union/intersection/Jaccard
    between groups come from the sketches alone (HLL unions but
    cannot intersect).

    Deterministic by construction (md5, no RNG, no partitioning
    dependence), so unlike HLL blobs the whole estimator replays
    exactly in DuckDB — the oracle is value-exact, not a tolerance
    band.

    Shape at scale: one distinct on (keys, hash) — map-side combined
    — then a per-group ``row_number <= k`` window (sort-based,
    spill-safe; memory is O(k) per group in the final collect, and
    the window sort is the disk-friendly path — an aggregation-buffer
    ``collect_set`` would hold every distinct hash of a group in
    memory, which is exactly what a sketch must never do).

    Output: ``*keys, kmv ARRAY<BIGINT> (ascending, len <= k),
    n_kept INT``. ``len < k`` means the group had fewer than k
    distinct values — the estimate is then EXACT (= len).
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(value).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    distinct = df.select(*keys, h.alias("_h")).distinct()
    w = Window.partitionBy(*keys).orderBy("_h")
    return (
        distinct.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
        .withColumn("n_kept", F.size("kmv").cast("int"))
    )


def _kmv_est(kmv, k: int):
    """Distinct estimate from one sketch: exact size below k, else
    the classic (k-1) * DOMAIN / kth_min."""
    return F.when(
        F.size(kmv) < k, F.size(kmv).cast("double")
    ).otherwise(
        F.lit(float(k - 1) * KMV_DOMAIN) / F.element_at(kmv, k).cast("double")
    )


def kmv_pairwise_overlap(
    sketches: DataFrame, key: str, k: int = 64
) -> DataFrame:
    """Set-operation estimates for every PAIR of sketch groups, from
    the sketches alone (the raw data is never re-read — the point of
    keeping KMV state): for groups a < b,

      * ``est_a`` / ``est_b``  — per-group distinct estimates,
      * ``est_union``          — from the k smallest of kmv_a ∪ kmv_b
        (itself a valid KMV of the union — min commutes with union),
      * ``jaccard_e6``         — |X ∩ A ∩ B| / |X| over that union
        sketch X, in exact integer millionths,
      * ``est_intersection``   — jaccard × union estimate.

    Estimates are emitted as BIGINTs (floor(x·scale + 0.5)) so every
    output column is integer-exact cross-engine — no float-hash
    hazards anywhere.
    """
    a = sketches.select(
        F.col(key).alias("a"), F.col("kmv").alias("kmv_a")
    )
    b = sketches.select(
        F.col(key).alias("b"), F.col("kmv").alias("kmv_b")
    )
    x = F.slice(F.array_sort(F.array_union("kmv_a", "kmv_b")), 1, k)
    paired = (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("_x", x)
        .withColumn(
            "_union_est",
            F.when(
                F.size("_x") < k, F.size("_x").cast("double")
            ).otherwise(
                F.lit(float(k - 1) * KMV_DOMAIN)
                / F.element_at("_x", k).cast("double")
            ),
        )
        .withColumn(
            "_jac",
            F.size(F.array_intersect(F.array_intersect("_x", "kmv_a"), "kmv_b"))
            .cast("double")
            / F.size("_x").cast("double"),
        )
    )

    def as_int(col):
        return F.floor(col + F.lit(0.5)).cast("bigint")

    return paired.select(
        "a",
        "b",
        as_int(_kmv_est(F.col("kmv_a"), k)).alias("est_a"),
        as_int(_kmv_est(F.col("kmv_b"), k)).alias("est_b"),
        as_int(F.col("_union_est")).alias("est_union"),
        as_int(F.col("_jac") * F.lit(1_000_000.0)).alias("jaccard_e6"),
        as_int(F.col("_jac") * F.col("_union_est")).alias("est_intersection"),
    )


# ------------------------------------------- log-histogram quantiles

def log_histogram_sketch(
    df: DataFrame,
    key: str,
    cents_col: Column | str,
    subbins: int = 8,
) -> DataFrame:
    """Mergeable log-histogram sketch over a POSITIVE integer measure
    (money in cents, latencies in ms): each value lands in one of
    ``subbins`` linear sub-bins of its binary octave (values capped
    at ``2^62/subbins`` — larger measures rescale first; enforced
    with a per-row raise), so the state is
    ``(key, bin, cnt)`` with at most ``63 x subbins`` rows per key —
    tiny, mergeable by ADDING counts (associative/commutative: shard
    sketches, stream micro-batch sketches, and time-bucket rollups
    all merge with one groupBy-sum), and 100% deterministic integer
    math, so unlike Spark's own GK ``approx_percentile`` the DuckDB
    oracle replays it value-exactly.

    Bin math (integer-exact in both engines): octave
    ``e = floor(log2(v))`` via the base-2 digit count, sub-bin
    ``s = v*subbins/2^e - subbins``; ``bin = e*subbins + s``. The
    represented interval is ``[2^e(1+s/k), 2^e(1+(s+1)/k))``, whose
    midpoint estimate carries relative error ≤ ``1/(2*subbins)``
    (pytest-pinned against exact quantiles).

    Output: ``<key>, bin, cnt, est`` — ``est`` is the bin midpoint
    (the value :func:`log_histogram_quantiles` reports).
    """
    c = F.col(cents_col) if isinstance(cents_col, str) else cents_col
    v = c.cast("bigint")
    # named intermediates so the expr-based shift can reference them.
    # Domain guard: the sub-bin numerator v*subbins must stay inside
    # int64, so v is capped at 2^62/subbins — raise_error per row
    # beats a silent wrap producing negative garbage bins.
    limit = (1 << 62) // subbins
    staged = df.select(
        F.col(key).alias(key),
        F.when(
            v > limit,
            F.raise_error(
                F.concat(
                    F.lit(f"log_histogram_sketch: value exceeds {limit} "),
                    F.lit(f"(2^62/subbins={subbins}); rescale the measure"),
                )
            ).cast("bigint"),
        )
        .otherwise(v)
        .alias("__v__"),
    ).where(F.col("__v__") >= 1)
    staged = staged.select(
        key,
        "__v__",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), "
            "CAST(length(conv(CAST(__v__ AS STRING), 10, 2)) - 1 AS INT))"
        ).alias("__base__"),
    ).select(
        key,
        "__v__",
        "__base__",
        # integer DIV, never double division: a double quotient can
        # round across a sub-bin boundary for large v, silently
        # diverging from the oracle's exact // (and from this very
        # sketch built on another engine)
        (
            F.expr(f"(__v__ * {subbins}) DIV __base__") - subbins
        ).alias("__s__"),
        (
            (F.length(F.conv(F.col("__v__").cast("string"), 10, 2)) - 1)
            * subbins
        ).alias("__e_k__"),
    )
    return (
        staged.groupBy(
            key,
            (F.col("__e_k__") + F.col("__s__")).cast("int").alias("bin"),
        )
        .agg(
            F.count("*").alias("cnt"),
            # every member of a bin shares (base, s), so min() just
            # reads the shared values back out of the group
            F.round(
                F.min(
                    F.col("__base__").cast("double")
                    * (1.0 + (2 * F.col("__s__") + 1) / (2.0 * subbins))
                ),
                6,
            ).alias("est"),
        )
    )


def log_histogram_quantiles(
    hist: DataFrame,
    key: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile estimates from a :func:`log_histogram_sketch` (or any
    sum-merge of such sketches): per key, the estimate for quantile
    ``q`` is the midpoint of the first bin whose cumulative count
    reaches ``ceil(q * n)``. The cumulative window runs over the
    SKETCH (≤ 63·subbins rows per key), never the data.

    Output: ``<key>, n, q<q> ...`` (one column per requested
    quantile, e.g. ``q50, q90, q99``).
    """
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(key)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(key)
    cum = hist.select(
        key,
        "est",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    names = [f"q{int(round(q * 100))}" for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"quantile labels collide: {names} — q{{int(q*100)}} naming "
            "needs whole-percent-distinct quantiles (e.g. not both "
            "0.99 and 0.995); rescale or query separately"
        )
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in qs:
        rank = F.ceil(F.lit(float(q)) * F.col("n"))
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, F.col("est"))).alias(
                f"q{int(round(q * 100))}"
            )
        )
    return cum.groupBy(key).agg(*aggs)
