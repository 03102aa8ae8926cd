"""Skew-mitigation patterns: salted aggregation and salted join.

AQE's skew-join splitting handles join-side skew automatically; for
*aggregation* skew (a handful of hot keys swamping their reducers)
the classic fix is salting: scatter each hot key across ``n_salts``
sub-keys, partially aggregate, then merge the partials. Correct for
any associative-mergeable aggregate (sum/count/min/max, and means as
sum+count pairs).

At the fixture's scale salting is pure overhead — the point of the
operator is the pattern and its verified equivalence to the plain
aggregation (oracle-checked), so it can be applied when a key
histogram says so at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "salted_sum_count",
    "join_skew_profile",
    "salted_skew_join",
    "choose_join_route",
    "auto_routed_join",
    "bloom_prefiltered_join",
]


def bloom_prefiltered_join(
    large: DataFrame,
    small: DataFrame,
    large_key: str,
    small_key: str,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Inner join with a Bloom pre-filter on the large side — the
    manual form of Catalyst's InjectRuntimeFilter: when the small
    side is selective, most large-side rows would be dropped BY the
    join; a Bloom filter drops them BEFORE the shuffle instead, so
    shuffle volume tracks the match set, not the corpus. At 100 TB
    this is the difference between shuffling every fact row and
    shuffling ~the output.

    Build: the small side's distinct keys each set ``k`` bits of an
    ``m_bits`` bitmap (positions = ``xxhash64(key, seed) mod m``);
    the bitmap aggregates distributively (per-word ``bit_or``, map-
    side combined) and collects to the driver as ``m_bits/64`` longs
    — PLANNING metadata like a probe-cell list, constant-size in the
    corpus. Probe: an unrolled k-way bit-test conjunction on the
    literal array — pure whole-stage-codegen expression, no join, no
    explode, evaluated in the large side's scan stage.

    False positives only leak extra rows INTO the real join, which
    discards them — the result is EXACTLY the plain inner join for
    any hash luck (the oracle/pytest assert equality, and the
    measured fpp at k=3, m=64Ki, |keys|=3k is ~0.2%). Choose
    ``m_bits`` ≈ 20× the expected distinct small-side keys; above
    ~10^8 keys prefer a partitioned semi-join instead of one bitmap.

    Output columns: when the two key names MATCH the join runs on the
    name list, so the key appears once; with distinct names both key
    columns survive (equal values — callers pick either), matching
    plain ``join`` semantics on every route.
    """
    # round UP: hash positions live in [0, m_bits), so the top word
    # must exist even when m_bits is not a multiple of 64 (otherwise
    # element_at past the array end returns NULL and silently drops
    # true matches before the join)
    n_words = (m_bits + 63) // 64
    hashes = F.array(
        *[
            F.pmod(
                F.xxhash64(F.col(small_key).cast("string"), F.lit(seed)),
                F.lit(m_bits),
            )
            for seed in range(k)
        ]
    )
    # all k bit positions in ONE scan of the small side
    bit = small.select(F.explode(hashes).alias("h")).select(
        (F.col("h") / 64).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 64 AS INT))").alias(
            "bits"
        ),
    )
    words = bit.groupBy("word").agg(F.bit_or("bits").alias("bits")).collect()
    bitmap = [0] * n_words
    for r in words:
        bitmap[r["word"]] |= r["bits"]
    arr = F.array(*[F.lit(x).cast("bigint") for x in bitmap])
    cond = None
    for seed in range(k):
        h = F.pmod(
            F.xxhash64(F.col(large_key).cast("string"), F.lit(seed)),
            F.lit(m_bits),
        )
        word_val = F.element_at(arr, (h / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64("
            f"CAST({large_key} AS STRING), {seed}), {m_bits}) % 64 AS INT))"
        )
        test = word_val.bitwiseAND(mask) != 0
        cond = test if cond is None else (cond & test)
    pre = large.where(cond)
    if large_key == small_key:
        # same-name keys: equality on F.col would be an ambiguous
        # reference — join on the name list (key appears once)
        return pre.join(small, large_key)
    return pre.join(small, F.col(large_key) == F.col(small_key))


def join_skew_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top_n: int = 10,
) -> DataFrame:
    """Pre-join skew diagnosis: per-key row counts on BOTH sides and
    the key's join fan-out (``n_left · n_right`` — the number of
    output rows that key alone will produce), for the ``top_n``
    worst keys plus their share of the total estimated output.

    Output: ``key, n_left, n_right, est_out_rows, est_out_share``
    (share rounded to 6), ordered worst-first — the planning signal
    that decides between a plain shuffle join, AQE skew-split,
    salting (``salted_sum_count``), or bounded_block_join chunking
    BEFORE burning a cluster-day discovering the skew the hard way.

    Shape at scale: two key-histogram aggregations (map-side
    combined: shuffle rows are (key, count) — never data rows), an
    inner join of the two histograms (distinct-key-sized), one
    scalar total, and a top-n. Cost is O(distinct keys), independent
    of fact-table width.
    """
    lh = left.groupBy(F.col(left_key).alias("key")).agg(
        F.count("*").alias("n_left")
    )
    rh = right.groupBy(F.col(right_key).alias("key")).agg(
        F.count("*").alias("n_right")
    )
    fan = lh.join(rh, "key").select(
        "key",
        "n_left",
        "n_right",
        (F.col("n_left") * F.col("n_right")).alias("est_out_rows"),
    )
    total = fan.agg(F.sum("est_out_rows").alias("_total"))
    return (
        fan.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_left",
            "n_right",
            "est_out_rows",
            F.round(
                F.col("est_out_rows").cast("double") / F.col("_total"), 6
            ).alias("est_out_share"),
        )
        .orderBy(F.col("est_out_rows").desc(), F.col("key"))
        .limit(top_n)
    )


def salted_skew_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    hot_threshold: int = 32,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner join with manual hot-key splitting: the classic salted
    skew join for when BOTH sides are too big to broadcast and a few
    left-side keys would swamp their reducers.

    Mechanics (each phase is the at-scale shape):

    1. Hot-key census: an exact left-side key histogram filtered to
       ``count >= hot_threshold`` — O(distinct keys) shuffle rows,
       map-side combined. (At 100 TB you'd feed this from a sampled
       histogram or ``join_skew_profile``; the routing decision only
       affects WHICH path a key takes, never the join result, so a
       stale/sampled census stays correct.)
    2. Both sides split by a broadcast hash of the hot-key list —
       no extra shuffle, just two filtered branches of each scan.
    3. Cold path: plain shuffle join (AQE handles residual skew).
    4. Hot path: left rows get a salt in ``[0, n_salts)`` from
       ``xxhash64(salt_source)`` (pass a high-entropy column like a
       row id; default is a partition-local counter — either way the
       salt is a function of the ROW, never of the key, or the hot
       key would land on one reducer again); right rows matching a
       hot key are REPLICATED ``n_salts`` times via
       ``explode(sequence)``; the join key becomes (key, salt), so
       each hot key fans out over ``n_salts`` reducers instead of
       one.
    5. Positional ``union`` of the two paths (both branches project
       the identical column list, and positional union — unlike
       ``unionByName`` — stays correct when left and right share
       column names, which a plain join permits).

    Replication cost is ``n_salts × |hot right rows|`` — bounded by
    the census, which is the entire point: you pay a small constant
    on the few hot keys instead of one straggler task owning an
    entire hot key's output.

    The census DataFrame is ``persist()``-ed: four branches (the
    semi/anti split of each side) consume it, and Catalyst does NOT
    reuse the aggregation subtree across them (measured: four census
    scans, zero ReusedExchange) — the persist makes it one census
    computation + four tiny cache reads. It is unpersisted lazily by
    cache eviction; at 100 TB you'd land the (tiny) hot-key list in
    a table instead.

    Output columns: all of ``left`` then all of ``right`` (the key
    columns from both sides, like a plain ``a.join(b, a.k == b.k)``).
    Both sides are positionally renamed into disjoint internal
    namespaces (``toDF``) before any join and restored at the end,
    so SELF-joins (``salted_skew_join(df, df, ...)``) and duplicate
    input column names both work — no manual aliasing required.
    Result is oracle-equivalent to the plain inner join for any
    (n_salts, hot_threshold) — the parameters tune routing only.
    """
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    # Disjoint positional namespaces: kills every ambiguity class at
    # once (left is right; shared names across sides; duplicate
    # names within a side). Keys/salt resolve by FIRST occurrence.
    lnames = [f"__ssj_l{i}" for i in range(len(left.columns))]
    rnames = [f"__ssj_r{i}" for i in range(len(right.columns))]
    lkey = lnames[left.columns.index(left_key)]
    rkey = rnames[right.columns.index(right_key)]
    lsalt = (
        lnames[left.columns.index(salt_source)] if salt_source else None
    )
    L = left.toDF(*lnames)
    R = right.toDF(*rnames)

    hot = (
        L.groupBy(F.col(lkey).alias("__ssj_hot_key"))
        .agg(F.count("*").alias("__ssj_n"))
        .where(F.col("__ssj_n") >= F.lit(hot_threshold))
        .select("__ssj_hot_key")
        .persist()
    )
    left_hot = L.join(
        F.broadcast(hot), F.col(lkey) == F.col("__ssj_hot_key"), "left_semi"
    )
    left_cold = L.join(
        F.broadcast(hot), F.col(lkey) == F.col("__ssj_hot_key"), "left_anti"
    )
    right_hot = R.join(
        F.broadcast(hot), F.col(rkey) == F.col("__ssj_hot_key"), "left_semi"
    )
    right_cold = R.join(
        F.broadcast(hot), F.col(rkey) == F.col("__ssj_hot_key"), "left_anti"
    )

    # The salt must spread ROWS of one hot key across reducers, so it
    # must NOT be a function of the key: hash a high-entropy column
    # (a row id), falling back to a partition-local counter.
    salt = (
        F.pmod(F.xxhash64(F.col(lsalt)), F.lit(n_salts))
        if lsalt
        else F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    lh = left_hot.withColumn("__ssj_salt_l", salt)
    rh = right_hot.withColumn(
        "__ssj_salt_r", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__ssj_salt_r", F.col("__ssj_salt_r").cast("bigint"))

    restore = [
        F.col(n).alias(c) for n, c in zip(lnames, left.columns)
    ] + [F.col(n).alias(c) for n, c in zip(rnames, right.columns)]
    hot_joined = lh.join(
        rh,
        (F.col(lkey) == F.col(rkey))
        & (F.col("__ssj_salt_l") == F.col("__ssj_salt_r")),
    ).select(*restore)
    cold_joined = left_cold.join(
        right_cold, F.col(lkey) == F.col(rkey)
    ).select(*restore)
    return hot_joined.union(cold_joined)


def choose_join_route(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    hot_threshold: int = 32,
    broadcast_max_rows: int = 10_000,
) -> str:
    """The planning half of :func:`auto_routed_join`: read the cheap
    census signals and name a strategy — ``'broadcast'`` /
    ``'salted'`` / ``'plain'``.

    Decision (in priority order, mirroring what a human planner does
    with :func:`join_skew_profile` output):

    1. ``'broadcast'`` if the right side has at most
       ``broadcast_max_rows`` rows. Probed with
       ``limit(n+1).count()`` — a BOUNDED scan (LocalLimit stops each
       task early and GlobalLimit stops the job at n+1 rows), so an
       oversized right side costs O(broadcast_max_rows), never a full
       100 TB count.
    2. ``'salted'`` if any left key's row count reaches
       ``hot_threshold``: an exact key histogram (map-side combined,
       shuffle rows are (key, count) — O(distinct keys)), max'd to one
       driver-side scalar. At 100 TB you'd feed this from a sampled
       histogram; a stale census only mis-ROUTES (both routes are
       result-equivalent), never mis-computes.
    3. ``'plain'`` otherwise — one shuffle join, AQE cleaning up
       residual skew at runtime.

    Two tiny driver-side jobs by design: this is a PLANNING operator
    (the same place AQE makes its runtime decisions), not a data-path
    collect.
    """
    right_probe = right.limit(broadcast_max_rows + 1).count()
    if right_probe <= broadcast_max_rows:
        return "broadcast"
    max_key = (
        left.groupBy(F.col(left_key))
        .agg(F.count("*").alias("_n"))
        .agg(F.max("_n").alias("_mx"))
        .collect()[0]["_mx"]
    )
    if max_key is not None and max_key >= hot_threshold:
        return "salted"
    return "plain"


def auto_routed_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    hot_threshold: int = 32,
    broadcast_max_rows: int = 10_000,
    salt_source: str | None = None,
) -> tuple[DataFrame, str]:
    """Histogram-routed inner join: run :func:`choose_join_route`'s
    census and dispatch to the strategy it names — closing the loop
    between the scout (:func:`join_skew_profile`) and the mitigation
    (:func:`salted_skew_join`) that previously existed as separate
    catalog entries.

    Routes (all three produce the IDENTICAL result set — the routing
    parameters tune physical strategy only, which is what makes a
    sampled/stale census safe):

    * ``'broadcast'`` — ``left ⋈ broadcast(right)``: zero shuffle of
      the big side; the right side ships once per executor.
    * ``'salted'`` — :func:`salted_skew_join`: hot keys scattered
      over ``n_salts`` reducers, cold keys join plainly.
    * ``'plain'`` — single shuffle join; AQE splits residual skew.

    Returns ``(joined, route)`` — joined columns are all of ``left``
    then all of ``right`` on every route (positional internal renames,
    so self-joins and shared column names work uniformly).
    """
    route = choose_join_route(
        left,
        right,
        left_key,
        hot_threshold=hot_threshold,
        broadcast_max_rows=broadcast_max_rows,
    )
    if route == "salted":
        return (
            salted_skew_join(
                left,
                right,
                left_key,
                right_key,
                n_salts=n_salts,
                hot_threshold=hot_threshold,
                salt_source=salt_source,
            ),
            route,
        )
    # broadcast / plain share one join shape; positional renames keep
    # self-joins and duplicate column names legal, like salted_skew_join
    lnames = [f"__arj_l{i}" for i in range(len(left.columns))]
    rnames = [f"__arj_r{i}" for i in range(len(right.columns))]
    lkey = lnames[left.columns.index(left_key)]
    rkey = rnames[right.columns.index(right_key)]
    L = left.toDF(*lnames)
    R = right.toDF(*rnames)
    if route == "broadcast":
        R = F.broadcast(R)
    restore = [
        F.col(n).alias(c) for n, c in zip(lnames, left.columns)
    ] + [F.col(n).alias(c) for n, c in zip(rnames, right.columns)]
    return L.join(R, F.col(lkey) == F.col(rkey)).select(*restore), route


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    value: Column,
    n_salts: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase sum+count per ``keys``: phase 1 groups on
    (keys, salt) — spreading each key over ``n_salts`` reducers —
    phase 2 merges the partials per key.

    ``salt_source``: a column whose hash spreads rows (default: a
    per-partition-uniform hash of all key-independent entropy —
    here, ``xxhash64`` of the whole row id column isn't assumed, so
    callers pass one; determinism of the *result* never depends on
    the salt values). Output: ``*keys, sum_value (decimal-exact
    double), n_rows``.
    """
    salt = (
        F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts))
        if salt_source
        else F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            F.sum(value.cast("decimal(18,2)")).alias("_psum"),
            F.count("*").alias("_pcnt"),
        )
    )
    return phase1.groupBy(*keys).agg(
        F.round(F.sum("_psum"), 2).cast("double").alias("sum_value"),
        F.sum("_pcnt").alias("n_rows"),
    )
