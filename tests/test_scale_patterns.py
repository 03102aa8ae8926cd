"""Scale-pattern tests: partition-pruned reads, foreachBatch sinks,
salted-vs-plain equivalence on skewed data."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.skew import salted_sum_count
from mapreduce_inverted_index_spark.sources.tables import load_table
from mapreduce_inverted_index_spark.streaming.windows import events_stream


def test_partitioned_write_prunes_partitions(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    assert os.path.isdir(os.path.join(path, "lang=en"))

    back = spark.read.parquet(path).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the lang filter must land in PartitionFilters (pruning), not
    # as a data filter over a full scan
    assert "PartitionFilters: [isnotnull(lang" in plan
    en_count = docs.where(F.col("lang") == "en").count()
    assert back.count() == en_count


def test_foreach_batch_sink(spark, sf_smoke, tmp_path):
    out_dir = str(tmp_path / "batches")
    seen = []

    def handle(batch_df, batch_id: int):
        seen.append((batch_id, batch_df.count()))
        batch_df.groupBy("event_type").count().write.mode("overwrite").parquet(
            f"{out_dir}/b{batch_id}"
        )

    q = (
        events_stream(spark, sf_smoke)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert seen and sum(n for _, n in seen) == 1000
    written = spark.read.parquet(f"{out_dir}/b{seen[0][0]}")
    assert written.count() == 5  # one row per event_type


def test_salted_equals_plain_on_skewed_data(spark):
    # 90% of rows on one hot key
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
        F.col("id").alias("row_id"),
    )
    salted = {
        (r["k"]): (r["sum_value"], r["n_rows"])
        for r in salted_sum_count(df, ["k"], F.col("v"), n_salts=16, salt_source="row_id").collect()
    }
    plain = {
        r["k"]: (float(r["s"]), r["n"])
        for r in df.groupBy("k")
        .agg(
            F.round(F.sum(F.col("v").cast("decimal(18,2)")), 2).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert salted == plain


def test_persisted_index_term_lookup_is_pruned(spark, sf_smoke, tmp_path):
    """Two-phase flow: build index -> persist parquet -> term lookup
    reads back with the term predicate pushed to the scan."""
    from mapreduce_inverted_index_spark.operators.inverted_index import build_index

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "index")
    build_index(docs).write.mode("overwrite").parquet(path)

    lookup = spark.read.parquet(path).where(F.col("term") == "join")
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(term), EqualTo(term,join)]" in plan
    rows = lookup.collect()
    assert len(rows) == 1 and rows[0]["df"] == len(rows[0]["postings"])


def test_operators_handle_empty_input(spark, sf_smoke):
    """Every core operator must return an empty result — not raise —
    when the corpus filters down to nothing."""
    from mapreduce_inverted_index_spark.operators import dedup as D
    from mapreduce_inverted_index_spark.operators import textstats as T
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        doc_freq,
        index_stats,
    )

    empty = load_table(spark, sf_smoke, "documents").where(F.lit(False))
    assert build_index(empty).count() == 0
    assert doc_freq(empty).count() == 0
    assert index_stats(empty).collect()[0]["num_postings"] == 0
    assert D.exact_dedup(empty).count() == 0
    assert D.minhash_near_dup(empty).count() == 0
    assert D.simhash_signatures(empty).count() == 0
    assert D.ngram_jaccard_pairs(empty).count() == 0
    assert T.language_id(empty).count() == 0
    assert T.quality_profile(empty).count() == 0
    assert T.fingerprints(empty).count() == 0


def test_sessionize_gap_boundary(spark):
    """Gap == gap_s stays in-session; gap_s+1 starts a new one; the
    numbering is deterministic under equal timestamps via tiebreak."""
    import datetime as dt

    from mapreduce_inverted_index_spark.operators.relational import sessionize

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        # user 1: 0s, +1800s (same session), +1800+1801s (new session)
        (1, 10, t0),
        (1, 11, t0 + dt.timedelta(seconds=1800)),
        (1, 12, t0 + dt.timedelta(seconds=3601)),
        # user 2: single event
        (2, 20, t0),
        # user 3: two events at the SAME timestamp — one session,
        # ordered by event_id
        (3, 30, t0),
        (3, 31, t0),
    ]
    df = spark.createDataFrame(rows, "user_id INT, event_id INT, ts TIMESTAMP")
    out = {
        (r["user_id"], r["event_id"]): r["sess_no"]
        for r in sessionize(df, "user_id", "ts", 1800, "event_id").collect()
    }
    assert out[(1, 10)] == 1 and out[(1, 11)] == 1  # 1800s gap: same
    assert out[(1, 12)] == 2                        # 1801s gap: new
    assert out[(2, 20)] == 1
    assert out[(3, 30)] == 1 and out[(3, 31)] == 1


def test_persisted_ivf_index_probe_is_pruned(spark, sf_smoke, tmp_path):
    """The IVF scale path: cell assignments persisted partitionBy
    cell make a probe a partition-pruned scan, and probing the
    persisted index scores identically to the in-memory operator."""
    from mapreduce_inverted_index_spark.operators import similarity as S

    emb = load_table(spark, sf_smoke, "embeddings")
    cents = S.ivf_centroids(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    S.ivf_assign(emb, cents).write.mode("overwrite").partitionBy("cell").parquet(path)

    probe_cells = [0, 1, 2]
    probed = spark.read.parquet(path).where(F.col("cell").isin(probe_cells))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "PartitionFilters: [isnotnull(cell" in plan
    in_mem = S.ivf_assign(emb, cents).where(F.col("cell").isin(probe_cells))
    assert probed.count() == in_mem.count() > 0
    assert {r["vec_id"] for r in probed.select("vec_id").collect()} == {
        r["vec_id"] for r in in_mem.select("vec_id").collect()
    }


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_smoke):
    """Runtime Bloom-filter join pruning — the 100 TB selective-join
    story: when a dimension side carries a selective filter, Catalyst
    injects a Bloom filter of its join keys into the fact side's scan
    (`might_contain(...)` on l_orderkey below), so most fact rows die
    at the scan instead of riding the shuffle. Local thresholds are
    tuned for TB-scale inputs, so the test lowers them to trigger the
    rewrite on MB-scale fixtures; result equality against the plain
    join proves the filter is purely an optimization."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # fire on MB-scale fixtures (defaults assume 10 GB probe side)
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        # bloom injection targets shuffle joins; park broadcast
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def _join():
        o = (
            spark.read.parquet(f"{sf_smoke}/orders.parquet")
            .where(F.col("o_totalprice") > 450000)
            .select("o_orderkey")
        )
        li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        return li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("rev"),
        )

    baseline = _join().collect()[0]
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        bloomed = _join()
        plan = bloomed._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter must reach the probe side"
        assert "l_orderkey" in [
            line for line in plan.splitlines() if "might_contain" in line
        ][0], "pruning must key on the fact table's join column"
        got = bloomed.collect()[0]
        assert (got.n, got.rev) == (baseline.n, baseline.rev)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_skew_join_equals_plain_join(spark):
    """salted_skew_join == plain inner join on 90%-hot-key data, for
    every routing regime: all-hot, all-cold, and mixed."""
    from mapreduce_inverted_index_spark.operators.skew import salted_skew_join

    left = spark.range(5_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("row_id"),
    )
    right = spark.range(50).select(
        F.col("id").alias("rk"), F.concat(F.lit("dim_"), F.col("id")).alias("attr")
    )
    plain = sorted(
        (r["k"], r["row_id"], r["attr"])
        for r in left.join(right, left["k"] == right["rk"]).collect()
    )
    # thresholds: all keys hot / genuinely MIXED (key 7 has 4500
    # rows, each minor key exactly 100 — 200 routes only key 7 hot,
    # both union branches non-empty) / all cold
    for thresh in (1, 200, 10**9):
        got = sorted(
            (r["k"], r["row_id"], r["attr"])
            for r in salted_skew_join(
                left, right, "k", "rk", n_salts=16,
                hot_threshold=thresh, salt_source="row_id",
            ).collect()
        )
        assert got == plain, f"mismatch at hot_threshold={thresh}"
    # default salt path (partition-local counter, no salt_source)
    got_default = sorted(
        (r["k"], r["row_id"], r["attr"])
        for r in salted_skew_join(
            left, right, "k", "rk", n_salts=4, hot_threshold=200
        ).collect()
    )
    assert got_default == plain
    # duplicate non-key column names are legal in a plain join and
    # must survive the union of the two paths (positional, not
    # by-name)
    l2 = left.select("k", F.col("row_id").alias("value"))
    r2 = right.select("rk", F.col("attr").alias("value"))
    plain2 = sorted(tuple(r) for r in l2.join(r2, l2["k"] == r2["rk"]).collect())
    got2 = sorted(
        tuple(r)
        for r in salted_skew_join(l2, r2, "k", "rk", hot_threshold=200).collect()
    )
    assert got2 == plain2


def test_auto_routed_join_routes_and_equivalence(spark):
    """choose_join_route picks the documented route for each census
    regime, and auto_routed_join returns the identical result set on
    every route (routing independence)."""
    from mapreduce_inverted_index_spark.operators.skew import auto_routed_join

    left = spark.range(5_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("row_id"),
    )
    right = spark.range(50).select(
        F.col("id").alias("rk"), F.concat(F.lit("dim_"), F.col("id")).alias("attr")
    )
    plain = sorted(
        (r["k"], r["row_id"], r["attr"])
        for r in left.join(right, left["k"] == right["rk"]).collect()
    )

    # census regimes: small right -> broadcast; big right + hot key
    # (key 7 has 4500 rows) -> salted; big right, no hot key -> plain
    for want_route, hot, bmax in (
        ("broadcast", 200, 50),
        ("salted", 200, 10),
        ("plain", 10**9, 10),
    ):
        joined, route = auto_routed_join(
            left, right, "k", "rk", n_salts=8, hot_threshold=hot,
            broadcast_max_rows=bmax, salt_source="row_id",
        )
        assert route == want_route
        got = sorted((r["k"], r["row_id"], r["attr"]) for r in joined.collect())
        assert got == plain, f"mismatch on route {route}"


def test_keyless_band_self_join_equals_naive(spark):
    """Grid-bucketed keyless band join == naive inequality join,
    including pairs exactly at the band edge and across bin
    boundaries."""
    from mapreduce_inverted_index_spark.operators.asof import (
        keyless_band_self_join,
    )

    # seconds chosen to hit: same bin, adjacent bins, gap == band,
    # gap == band+1 (excluded), duplicates at one instant
    secs = [0, 1, 9, 10, 11, 19, 20, 21, 30, 41, 41, 52, 100, 110, 111]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(secs)], "id long, s long"
    ).select("id", F.timestamp_seconds("s").alias("ts"))

    got = sorted(
        (r["id_a"], r["id_b"], r["gap_seconds"])
        for r in keyless_band_self_join(df, "id", "ts", 10).collect()
    )
    naive = sorted(
        (a_id, b_id, abs(sb - sa))
        for a_id, sa in enumerate(secs)
        for b_id, sb in enumerate(secs)
        if a_id < b_id and abs(sb - sa) <= 10
    )
    assert got == naive

    plan = (
        keyless_band_self_join(df, "id", "ts", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_keyless_band_self_join_property(spark):
    """Property: for arbitrary second-offsets and band widths, the
    grid-bucketed keyless band join equals the O(n^2) definition —
    clustered draws make same-bin/adjacent-bin/band-edge collisions
    common."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from mapreduce_inverted_index_spark.operators.asof import (
        keyless_band_self_join,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        secs=st.lists(
            st.integers(min_value=0, max_value=120),
            min_size=1,
            max_size=20,
        ),
        band=st.integers(min_value=1, max_value=40),
    )
    def run(secs, band):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(secs)], "id long, s long"
        ).select("id", F.timestamp_seconds("s").alias("ts"))
        got = sorted(
            (r["id_a"], r["id_b"], r["gap_seconds"])
            for r in keyless_band_self_join(df, "id", "ts", band).collect()
        )
        naive = sorted(
            (a, b, abs(secs[b] - secs[a]))
            for a in range(len(secs))
            for b in range(a + 1, len(secs))
            if abs(secs[b] - secs[a]) <= band
        )
        assert got == naive

    run()


def test_salted_skew_join_self_join(spark):
    """Passing the SAME DataFrame as both sides (the events-pairs
    use case) must work without manual aliasing — the internal
    positional rename kills the self-join ambiguity — and equal the
    aliased plain self-join."""
    from mapreduce_inverted_index_spark.operators.skew import salted_skew_join

    df = spark.range(500).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("rid")
    )
    got = salted_skew_join(
        df, df, "k", "k", n_salts=4, hot_threshold=50, salt_source="rid"
    )
    assert got.columns == ["k", "rid", "k", "rid"]
    pairs = sorted(tuple(r) for r in got.collect())
    plain = sorted(
        tuple(r)
        for r in df.alias("a")
        .join(df.alias("b"), F.col("a.k") == F.col("b.k"))
        .collect()
    )
    assert pairs == plain
