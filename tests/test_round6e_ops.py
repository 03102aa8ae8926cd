"""Continuation-session round-6 operator semantics beyond the
registry differential:

* bfs_levels: exact min-hop levels on a hand graph (chain + branch +
  unreachable island), multi-source min semantics, hop cap, and the
  isolated-seed level-0 contract.
* pareto_frontier_2d: dominance on hand points — per-x ties kept,
  duplicated frontier points all kept, strictly-dominated interior
  dropped, and the frontier equals the O(n^2) dominance definition.
* group_trend_slope: recovers an exact known line per group, and a
  constant series yields slope 0 with intercept = the constant.
* distribution_divergence: identical halves -> 0; disjoint
  vocabularies -> 1 (both bounds of Hellinger).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.graph import bfs_levels
from mapreduce_inverted_index_spark.operators.relational import (
    group_trend_slope,
    pareto_frontier_2d,
)
from mapreduce_inverted_index_spark.operators.textstats import (
    distribution_divergence,
)


# ------------------------------------------------------------- bfs_levels

def test_bfs_levels_hand_graph(spark):
    # 1-2-3-4-5 chain, 2-6 branch, 8-9 island (unreachable), seed {1, 9}.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (8, 9)], ["u", "v"]
    )
    seeds = spark.createDataFrame([(1,), (9,)], ["id"])
    got = {
        r["id"]: r["level"]
        for r in bfs_levels(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 9: 0, 2: 1, 8: 1, 3: 2, 6: 2, 4: 3}
    # 5 is 4 hops out -> cut by the cap; island vertex 8 reached via 9.


def test_bfs_levels_multi_source_takes_min(spark):
    # 1-2-3-4-5 with seeds at both ends: middle vertex takes the min.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["u", "v"]
    )
    seeds = spark.createDataFrame([(1,), (5,)], ["id"])
    got = {
        r["id"]: r["level"]
        for r in bfs_levels(edges, seeds, max_hops=4).collect()
    }
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_levels_isolated_seed_is_level_zero(spark):
    edges = spark.createDataFrame([(1, 2)], ["u", "v"])
    seeds = spark.createDataFrame([(99,)], ["id"])
    got = {
        r["id"]: r["level"]
        for r in bfs_levels(edges, seeds, max_hops=2).collect()
    }
    assert got == {99: 0}


# ----------------------------------------------------- pareto_frontier_2d

def _brute_skyline(points):
    out = []
    for x, y in points:
        dominated = any(
            (x2 >= x and y2 >= y and (x2 > x or y2 > y)) for x2, y2 in points
        )
        if not dominated:
            out.append((x, y))
    return sorted(out)


def test_pareto_frontier_matches_dominance_definition(spark):
    pts = [
        (1, 9), (2, 9),          # (2,9) dominates (1,9) on x
        (2, 9),                  # duplicate frontier point: both kept
        (3, 5), (3, 7),          # per-x tie: only the max-y row survives
        (4, 4), (5, 1), (2, 2),  # interior points
        (5, 1),                  # duplicated dominated point
    ]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = sorted((r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect())
    # _brute_skyline iterates per occurrence, so duplicated frontier
    # points already appear once per copy.
    assert got == sorted(_brute_skyline(pts))


def test_pareto_frontier_single_point_and_total_order(spark):
    df = spark.createDataFrame([(1, 1)], ["x", "y"])
    assert pareto_frontier_2d(df, "x", "y").count() == 1
    # Strictly increasing staircase: every point on the frontier of
    # (x asc, y desc) pairs.
    stair = [(i, 10 - i) for i in range(1, 6)]
    df2 = spark.createDataFrame(stair, ["x", "y"])
    got = sorted((r["x"], r["y"]) for r in pareto_frontier_2d(df2, "x", "y").collect())
    assert got == sorted(stair)


# ------------------------------------------------------ group_trend_slope

def test_group_trend_slope_recovers_exact_line(spark):
    # g1: y = 3x + 10 exactly; g2: constant 7.
    rows = [("g1", x, 3 * x + 10) for x in range(10)] + [
        ("g2", x, 7) for x in range(5)
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {
        r["g"]: (r["n_points"], r["slope"], r["intercept"])
        for r in group_trend_slope(df, ["g"], "x", "y").collect()
    }
    assert got["g1"] == (10, 3.0, 10.0)
    assert got["g2"] == (5, 0.0, 7.0)


# ------------------------------------------------ distribution_divergence

def test_hellinger_identical_halves_is_zero(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    row = distribution_divergence(docs, F.col("doc_id") == 0).collect()[0]
    assert row["hellinger_sq"] == 0.0 and row["hellinger"] == 0.0
    assert row["tok_a"] == row["tok_b"] == 3


def test_hellinger_disjoint_vocabularies_is_one(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta epsilon")],
        ["doc_id", "text"],
    )
    row = distribution_divergence(docs, F.col("doc_id") == 0).collect()[0]
    assert abs(row["hellinger"] - 1.0) < 1e-9
    assert row["n_terms"] == 5


# --------------------------------------------------- peak_concurrency

def _pc(spark, rows, buckets=4):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = [
        (base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=e))
        for s, e in rows
    ]
    df = spark.createDataFrame(data, ["s", "e"])
    from mapreduce_inverted_index_spark.operators.relational import (
        peak_concurrency,
    )

    r = peak_concurrency(df, "s", "e", buckets=buckets).collect()[0]
    return r["peak_concurrency"], (r["peak_ts"] - base).total_seconds() / 60


def test_peak_concurrency_hand_intervals(spark):
    # [0,10], [5,15], [12,20]: peak 2 first reached at t=5.
    assert _pc(spark, [(0, 10), (5, 15), (12, 20)]) == (2, 5)


def test_peak_concurrency_inclusive_ends_meet(spark):
    # [0,10] and [10,20] meet at t=10: inclusive ends -> concurrent.
    assert _pc(spark, [(0, 10), (10, 20)]) == (2, 10)


def test_peak_concurrency_bucket_count_invariance(spark):
    # The distributed prefix sum must not depend on the bucket count.
    rows = [(i, i + 7) for i in range(0, 40, 3)] + [(4, 30), (6, 28)]
    expected = _pc(spark, rows, buckets=1)  # single bucket == naive sweep
    for b in (2, 4, 16):
        assert _pc(spark, rows, buckets=b) == expected


def test_peak_concurrency_all_disjoint(spark):
    assert _pc(spark, [(0, 1), (2, 3), (4, 5)]) == (1, 0)


# ----------------------------------------------------------- ols2_fit

def test_ols2_recovers_exact_plane(spark):
    from mapreduce_inverted_index_spark.operators.relational import ols2_fit

    # y = 2 + 3*x1 - 5*x2 exactly, on a non-degenerate integer grid.
    rows = [
        (float(i), float(j), 2 + 3 * i - 5 * j)
        for i in range(5)
        for j in range(4)
    ]
    df = spark.createDataFrame(rows, ["x1", "x2", "y"])
    r = ols2_fit(df, F.col("x1"), F.col("x2"), F.col("y")).collect()[0]
    assert (
        r["n_points"],
        r["beta0"],
        r["beta1"],
        r["beta2"],
        r["r2"],
    ) == (20, 2.0, 3.0, -5.0, 1.0)


def test_ols2_orthogonal_feature_gets_zero_weight(spark):
    from mapreduce_inverted_index_spark.operators.relational import ols2_fit

    # y depends only on x1; x2 varies independently -> beta2 == 0.
    rows = [
        (float(i), float(j), 7 * i)
        for i in range(4)
        for j in range(4)
    ]
    df = spark.createDataFrame(rows, ["x1", "x2", "y"])
    r = ols2_fit(df, F.col("x1"), F.col("x2"), F.col("y")).collect()[0]
    assert (r["beta1"], r["beta2"], r["r2"]) == (7.0, 0.0, 1.0)


# --------------------------------------------- chi_square_independence

def test_chi2_independent_table_is_zero(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        chi_square_independence,
    )

    # Perfectly independent 2x2: every cell = ra*cb/n exactly.
    rows = (
        [("a", "x")] * 4 + [("a", "y")] * 8
        + [("b", "x")] * 2 + [("b", "y")] * 4
    )
    df = spark.createDataFrame(rows, ["u", "v"])
    r = chi_square_independence(df, "u", "v").collect()[0]
    assert (r["n_rows"], r["n_cells"], r["dof"], r["chi2"]) == (18, 4, 1, 0.0)


def test_chi2_perfect_association_equals_n(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        chi_square_independence,
    )

    # Diagonal 2x2 (u determines v): chi2 == n for a 2x2 table.
    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, ["u", "v"])
    r = chi_square_independence(df, "u", "v").collect()[0]
    assert (r["n_rows"], r["dof"], r["chi2"]) == (10, 1, 10.0)


# ------------------------------------------------------- token_entropy

def test_token_entropy_uniform_is_ln_v(spark):
    import math

    from mapreduce_inverted_index_spark.operators.textstats import token_entropy

    # 4 terms, equal counts -> H = ln 4, normalized = 1.
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")], ["doc_id", "text"]
    )
    r = token_entropy(docs).collect()[0]
    assert r["n_tokens"] == 4 and r["n_terms"] == 4
    assert abs(r["entropy"] - math.log(4)) < 1e-5
    assert r["entropy_norm"] == 1.0


def test_token_entropy_skew_below_uniform(spark):
    from mapreduce_inverted_index_spark.operators.textstats import token_entropy

    docs = spark.createDataFrame(
        [(0, "alpha alpha alpha alpha alpha alpha beta")], ["doc_id", "text"]
    )
    r = token_entropy(docs).collect()[0]
    assert 0.0 < r["entropy_norm"] < 1.0


# ------------------------------------------------------------ binary_auc

def _auc(spark, scored, buckets=4):
    from mapreduce_inverted_index_spark.operators.quality import binary_auc

    df = spark.createDataFrame(scored, ["score", "pos"])
    r = binary_auc(
        df, F.col("score"), F.col("pos"), buckets=buckets
    ).collect()[0]
    return r["n_pos"], r["n_neg"], r["auc"]


def _brute_auc(scored):
    # pairwise definition with half credit on ties, rounded half-up on
    # the double's shortest decimal form as Spark's round() does;
    # Python's round() is half-to-even, so an exact tie such as
    # 0.5078125 (32.5 wins of 64 pairs) would round the other way
    from decimal import ROUND_HALF_UP, Decimal

    pos = [s for s, p in scored if p]
    neg = [s for s, p in scored if not p]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    auc = Decimal(repr(wins / (len(pos) * len(neg))))
    return float(auc.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def test_auc_perfect_and_reversed(spark):
    perfect = [(float(i), True) for i in range(5, 10)] + [
        (float(i), False) for i in range(5)
    ]
    assert _auc(spark, perfect) == (5, 5, 1.0)
    reverse = [(s, not p) for s, p in perfect]
    assert _auc(spark, reverse) == (5, 5, 0.0)


def test_auc_all_tied_is_half(spark):
    tied = [(1.0, True)] * 3 + [(1.0, False)] * 7
    assert _auc(spark, tied) == (3, 7, 0.5)


def test_auc_matches_pairwise_definition_and_buckets(spark):
    scored = [
        (0.1, False), (0.4, True), (0.35, True), (0.8, False),
        (0.35, False), (0.9, True), (0.62, True), (0.5, False),
        (0.1, True), (0.62, False), (0.62, True),
    ]
    expect = _brute_auc(scored)
    for b in (1, 2, 4, 16):
        assert _auc(spark, scored, buckets=b)[2] == expect


# ------------------------------------------------------ transition_matrix

def test_transition_matrix_hand_sequence(spark):
    from mapreduce_inverted_index_spark.operators.relational import (
        transition_matrix,
    )

    # user 1: a->b->a->c ; user 2: b->b. First events contribute no pair.
    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"),
        (2, 1, "b"), (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, ["k", "t", "s"])
    got = {
        (r["from_state"], r["to_state"]): (r["n_trans"], r["p"])
        for r in transition_matrix(df, "k", "t", "s", tiebreak_col="t").collect()
    }
    assert got == {
        ("a", "b"): (1, 0.5),
        ("a", "c"): (1, 0.5),
        ("b", "a"): (1, 0.5),
        ("b", "b"): (1, 0.5),
    }


def test_transition_matrix_rows_sum_to_one(spark):
    from mapreduce_inverted_index_spark.operators.relational import (
        transition_matrix,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    tm = transition_matrix(e, "user_id", "ts", "event_type", "event_id")
    sums = (
        tm.groupBy("from_state").agg(F.round(F.sum("p"), 3).alias("s")).collect()
    )
    assert sums and all(abs(r["s"] - 1.0) <= 0.001 for r in sums)


# -------------------------------------------------- quantile_normalize

def test_quantile_normalize_hand_values(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        quantile_normalize,
    )

    # scores 10,20,20,30: mid-rank pcts 0.125, 0.5, 0.5, 0.875
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)], ["id", "s"]
    )
    got = {
        r["id"]: r["pct"]
        for r in quantile_normalize(df, "id", F.col("s"), buckets=2).collect()
    }
    assert got == {1: 0.125, 2: 0.5, 3: 0.5, 4: 0.875}


def test_quantile_normalize_bucket_invariance_and_bounds(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        quantile_normalize,
    )

    rows = [(i, float((i * 37) % 11)) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "s"])
    base = sorted(
        (r["id"], r["pct"])
        for r in quantile_normalize(df, "id", F.col("s"), buckets=1).collect()
    )
    for b in (4, 16):
        got = sorted(
            (r["id"], r["pct"])
            for r in quantile_normalize(df, "id", F.col("s"), buckets=b).collect()
        )
        assert got == base
    assert all(0.0 < p < 1.0 for _, p in base)


# ----------------------------------------------------- gini_coefficient

def test_gini_equal_values_is_zero(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        gini_coefficient,
    )

    df = spark.createDataFrame([(i, 100) for i in range(8)], ["id", "v"])
    r = gini_coefficient(df.select("v"), F.col("v")).collect()[0]
    assert (r["n_items"], r["gini"]) == (8, 0.0)


def test_gini_matches_brute_force(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        gini_coefficient,
    )

    vals = [1, 1, 2, 5, 5, 5, 10, 40, 100, 100]
    # brute: mean absolute difference / (2*mean)
    n = len(vals)
    mad = sum(abs(a - b) for a in vals for b in vals) / (n * n)
    expect = round(mad / (2 * sum(vals) / n), 6)
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    r = gini_coefficient(df, F.col("v"), buckets=4).collect()[0]
    assert r["gini"] == expect


# ------------------------------------------------------- property tests

def test_pareto_frontier_property(spark):
    """Property: for arbitrary integer point sets (duplicates and
    per-x ties included), the sort-based skyline equals the O(n^2)
    dominance definition, per occurrence."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        pts=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=8),
                st.integers(min_value=0, max_value=8),
            ),
            min_size=1,
            max_size=25,
        )
    )
    def run(pts):
        df = spark.createDataFrame(pts, ["x", "y"])
        got = sorted(
            (r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()
        )
        assert got == _brute_skyline(pts)

    run()


def test_peak_concurrency_property(spark):
    """Property: for arbitrary inclusive integer intervals, the
    distributed sweep equals the brute-force pointwise maximum (and
    its earliest argmax)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from mapreduce_inverted_index_spark.operators.relational import (
        peak_concurrency,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        iv=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=15),
            ),
            min_size=1,
            max_size=20,
        )
    )
    def run(iv):
        intervals = [(s, s + d) for s, d in iv]
        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [
                (base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=e))
                for s, e in intervals
            ],
            ["s", "e"],
        )
        r = peak_concurrency(df, "s", "e", buckets=4).collect()[0]
        # brute force: concurrency at each interval endpoint
        cand = sorted({t for s, e in intervals for t in (s, e)})
        conc = {
            t: sum(1 for s, e in intervals if s <= t <= e) for t in cand
        }
        peak = max(conc.values())
        first = min(t for t, c in conc.items() if c == peak)
        got_min = (r["peak_ts"] - base).total_seconds() / 60
        assert (r["peak_concurrency"], got_min) == (peak, first)

    run()


def test_binary_auc_property(spark):
    """Property: for arbitrary scored label sets with both classes
    present, the distributed AUC equals the pairwise definition."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        scored=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),
                st.booleans(),
            ),
            min_size=2,
            max_size=25,
        ).filter(
            lambda xs: any(p for _, p in xs) and any(not p for _, p in xs)
        )
    )
    def run(scored):
        data = [(float(s) / 2.0, p) for s, p in scored]
        assert _auc(spark, data, buckets=4)[2] == _brute_auc(data)

    run()


# --------------------------------------- stream transition state boundary

def test_stream_transitions_span_batch_boundary(spark, tmp_path):
    """The pair that spans two AvailableNow passes (last event of
    pass 1 -> first event of pass 2) must be emitted — that is what
    the per-user `last` state exists for; a stateless per-batch lag
    would drop it. Also: a pass with nothing new emits nothing."""
    import datetime as dt

    from mapreduce_inverted_index_spark.streaming.stateful import (
        _TRANS_OUT,
        _TRANS_STATE,
        _update_transitions,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "landing"
    sink = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    base = dt.datetime(2024, 1, 1)

    def write_chunk(name, rows):
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run_pass():
        ev = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string"
            ).parquet(str(src))
        )
        pairs = (
            ev.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_transitions,
                outputStructType=_TRANS_OUT,
                stateStructType=_TRANS_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            pairs.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["from_state"], r["to_state"])
            for r in spark.read.parquet(sink).collect()
        )

    write_chunk("c1", [
        (1, base + dt.timedelta(minutes=0), 7, "a"),
        (2, base + dt.timedelta(minutes=1), 7, "b"),
    ])
    assert run_pass() == [("a", "b")]

    write_chunk("c2", [
        (3, base + dt.timedelta(minutes=2), 7, "c"),
        (4, base + dt.timedelta(minutes=3), 7, "d"),
    ])
    # boundary pair b->c carried by state
    assert run_pass() == [("a", "b"), ("b", "c"), ("c", "d")]

    # nothing new: no rows added
    assert run_pass() == [("a", "b"), ("b", "c"), ("c", "d")]


# --------------------------------------------------------------- anova_f

def test_anova_identical_groups_f_zero(spark):
    from mapreduce_inverted_index_spark.operators.quality import anova_f

    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
        ("b", v) for v in (1.0, 2.0, 3.0)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = anova_f(df, "g", F.col("v")).collect()[0]
    assert (r["n_rows"], r["k_groups"], r["f_stat"], r["eta_sq"]) == (
        6, 2, 0.0, 0.0,
    )


def test_anova_matches_reference_formula(spark):
    from mapreduce_inverted_index_spark.operators.quality import anova_f

    groups = {"a": [1.0, 2.0, 3.0], "b": [2.0, 3.0, 4.0], "c": [6.0, 7.0, 8.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    # reference computation (on the same 1e-6 quantized values)
    import math
    qs = {g: [round(v * 1e6) for v in vs] for g, vs in groups.items()}
    n = sum(len(v) for v in qs.values())
    k = len(qs)
    grand = sum(sum(v) for v in qs.values())
    sst = sum(x * x for v in qs.values() for x in v) - grand * grand / n
    gt = sum(
        round(sum(v) ** 2 / len(v) * 1e3 + 0.5 - 0.5) for v in qs.values()
    )
    # mirror the 1e-3 quantization
    gt = sum(math.floor(sum(v) ** 2 / len(v) * 1e3 + 0.5) for v in qs.values()) / 1e3
    ssb = gt - grand * grand / n
    ssw = (sum(x * x for v in qs.values() for x in v)) - gt
    expect_f = round((ssb / (k - 1)) / (ssw / (n - k)), 6)
    expect_eta = round(ssb / sst, 6)

    df = spark.createDataFrame(rows, ["g", "v"])
    r = anova_f(df, "g", F.col("v")).collect()[0]
    assert (r["f_stat"], r["eta_sq"]) == (expect_f, expect_eta)


def test_hashed_classifier_margins_reference(spark):
    """The hashed classifier margin equals a pure-Python replay of
    the same md5-bucket + Knuth-weight math; stopword-only and empty
    docs yield no row."""
    import hashlib

    from mapreduce_inverted_index_spark.operators.textstats import (
        hashed_classifier_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "Spark shuffles BYTES, not rows!"),
            (2, "the and of to"),          # stopwords only -> no row
            (3, ""),                        # empty -> no row
            (4, "bytes bytes bytes"),       # tf counted, not distinct
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["margin"], r["quality_pass"])
        for r in hashed_classifier_scores(docs, n_buckets=1024).collect()
    }

    def toks(text):
        import re

        stop = {"the", "and", "of", "to", "not"}
        out = []
        for t in re.sub(r"[^a-z\s]", "", text.lower()).split():
            if t and t not in stop:
                out.append(t)
        return out

    def margin(words):
        mm = 0
        for w in words:
            b = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 1024
            mm += (b * 2654435761) % 2001 - 1000
        return mm

    exp = {}
    for doc_id, text in [(1, "Spark shuffles BYTES, not rows!"), (4, "bytes bytes bytes")]:
        ws = toks(text)
        mm = margin(ws)
        exp[doc_id] = (len(ws), mm / 1000.0, mm > 0)
    assert set(got) == {1, 4}
    assert got == exp


def test_vocab_growth_curve_tiny_corpus(spark):
    """Hand-computed Heaps curve: novelty lands at min(doc_id), empty
    docs carry zeros, cumulative axes are monotone and exact."""
    from mapreduce_inverted_index_spark.operators.textstats import (
        vocab_growth_curve,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "beta gamma")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_new_terms"], r["tokens_seen"], r["vocab_size"]
        )
        for r in vocab_growth_curve(docs).collect()
    }
    assert got == {
        1: (3, 2, 3, 2),
        2: (0, 0, 3, 2),
        3: (2, 1, 5, 3),
    }


def test_weighted_sample_matches_python_replay(spark):
    """weighted_sample == exact Python replay of the md5-div-weight
    priority math, and a dominant weight is always selected."""
    import hashlib

    from mapreduce_inverted_index_spark.operators.curation import (
        weighted_sample,
    )

    rows = [(i, (i % 7) + 1) for i in range(200)] + [(999, 10_000_000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [
        (r["doc_id"], r["priority"])
        for r in weighted_sample(df, "w", k=10).collect()
    ]

    def pri(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h // (w + 1)

    exp = sorted(((pri(d, w), d) for d, w in rows))[:10]
    assert got == [(d, p) for p, d in exp]
    assert 999 in {d for d, _ in got}  # the heavy row always wins a slot


def test_bootstrap_ci_reference(spark):
    """bootstrap_ci == exact Python replay of the md5 half-sampling
    and quantized replicate math on a tiny frame."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from mapreduce_inverted_index_spark.operators.quality import bootstrap_ci

    rows = [(i, float(10 + (i % 9))) for i in range(300)]
    df = spark.createDataFrame(rows, "rid long, v double")
    got = bootstrap_ci(
        df, F.col("v"), ["rid"], n_reps=8, quant=100
    ).collect()[0]

    def kept(rid, r):
        h = int(hashlib.md5(str(rid).encode()).hexdigest()[:15], 16)
        return (h >> r) & 1 == 0

    mqs = []
    for r in range(8):
        sel = [int(math.floor(v * 100 + 0.5)) for i, v in rows if kept(i, r)]
        mqs.append(int(math.floor(sum(sel) / len(sel) / 100 * 1e6 + 0.5)))
    b = len(mqs)
    sm, smm = sum(mqs), sum(m * m for m in mqs)
    var = (smm - sm * sm / b) / (b - 1) / 1e12
    sd = math.sqrt(var)
    full = sum(int(math.floor(v * 100 + 0.5)) for _, v in rows) / 300 / 100
    assert got["n_rows"] == 300 and got["n_reps"] == 8
    assert got["full_mean"] == round(full, 6)
    assert got["sd_reps"] == round(sd, 6)
    assert got["ci_lo"] == round(full - 1.96 * sd / math.sqrt(2.0), 6)
    assert got["ci_hi"] == round(full + 1.96 * sd / math.sqrt(2.0), 6)
