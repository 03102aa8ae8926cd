"""Round-7 regression tests for the ADVICE r6 fixes:

1. ``_update_transitions`` must restore GLOBAL (ts, event_id) order
   across multiple Arrow chunks of one group in one micro-batch —
   per-chunk sorting with `last` chained across chunks fabricated
   chunk-boundary transitions.
2. ``gram_matrix`` must not wrap int64 inside a SINGLE batch matmul
   (large |x| at high scale), and must raise when even one row's
   cell contribution exceeds the budget.
3. ``ols2_fit`` quantizes y like the features: fractional targets
   survive (no silent integer rounding).
4. ``chi_square_independence`` excludes NULL categories — no phantom
   grid levels inflating n_cells/dof.
5. ``weighted_sample`` raises on negative or NULL weights instead of
   letting NULL priority silently win the sample.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ------------------------------------------- 1. multi-chunk transitions

class _FakeState:
    """Duck-typed GroupState: .exists/.get/.update only."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _run_transitions(chunks, prior=None):
    from mapreduce_inverted_index_spark.streaming.stateful import (
        _update_transitions,
    )

    state = _FakeState((prior,) if prior is not None else None)
    out = list(_update_transitions((1,), iter(chunks), state))
    pairs = (
        [] if not out
        else list(
            pd.concat(out, ignore_index=True).itertuples(index=False, name=None)
        )
    )
    return pairs, state.get[0]


def _chunk(rows):
    return pd.DataFrame(rows, columns=["ts", "event_id", "event_type"])


def test_transitions_restore_order_across_chunks():
    # Group arrives as TWO chunks whose ts ranges interleave: chunk 1
    # holds ts 1 and 3, chunk 2 holds ts 2 and 4. True order is
    # a->b->c->d; per-chunk sorting would emit a->c (fabricated),
    # c->b (backwards), b->d.
    c1 = _chunk([(1, 10, "a"), (3, 30, "c")])
    c2 = _chunk([(2, 20, "b"), (4, 40, "d")])
    pairs, last = _run_transitions([c1, c2])
    assert pairs == [("a", "b"), ("b", "c"), ("c", "d")]
    assert last == "d"


def test_transitions_chain_prior_state_and_tiebreak():
    # Prior state supplies the cross-batch boundary pair; equal ts
    # breaks on event_id.
    c1 = _chunk([(5, 2, "y"), (5, 1, "x")])
    pairs, last = _run_transitions([c1], prior="w")
    assert pairs == [("w", "x"), ("x", "y")]
    assert last == "y"


def test_transitions_empty_chunks_keep_state():
    pairs, last = _run_transitions([_chunk([])], prior="k")
    assert pairs == []
    assert last == "k"


# ------------------------------------------------ 2. gram batch slicing

def test_gram_matrix_large_values_single_batch_exact(spark):
    from mapreduce_inverted_index_spark.operators.similarity import (
        gram_matrix,
    )

    # |x| = 1400 at scale=1e6 -> q = 1.4e9, per-row cell contribution
    # 1.96e18: three rows already exceed the 2^62 budget, so a single
    # 4-row batch MUST be sliced or the int64 matmul wraps (total
    # 7.84e18 still fits the bigint output contract).
    vecs = [
        ([1400.0, -1400.0],),
        ([1400.0, 1400.0],),
        ([-1400.0, 1400.0],),
        ([1400.0, 1400.0],),
    ]
    df = spark.createDataFrame(vecs, ["embedding"]).coalesce(1)
    got = {
        (r["i"], r["j"]): r["gram"]
        for r in gram_matrix(df).collect()
    }
    q = 1_400_000_000  # exact Python ints: ground truth cannot wrap
    rows = [(q, -q), (q, q), (-q, q), (q, q)]
    want = {
        (0, 0): sum(a * a for a, _ in rows),
        (0, 1): sum(a * b for a, b in rows),
        (1, 1): sum(b * b for _, b in rows),
    }
    assert got == want


def test_gram_matrix_raises_when_one_row_exceeds_budget(spark):
    from mapreduce_inverted_index_spark.operators.similarity import (
        gram_matrix,
    )

    # q = 1e11 -> per-row contribution 1e22 > 2^62: no slicing can
    # save a single row; the operator must refuse, not wrap.
    df = spark.createDataFrame([([100_000.0, 0.0],)], ["embedding"])
    with pytest.raises(Exception, match="int64 budget"):
        gram_matrix(df).collect()


# ---------------------------------------------------- 3. fractional y

def test_ols2_fractional_targets_exact(spark):
    from mapreduce_inverted_index_spark.operators.relational import ols2_fit

    # y = 0.5 + 0.25*x1 - 0.125*x2 exactly (all terms exact on the
    # nano grid). The old DECIMAL(9,0) cast rounded y to integers and
    # could not recover these coefficients.
    rows = [
        (float(i), float(j), 0.5 + 0.25 * i - 0.125 * j)
        for i in range(5)
        for j in range(4)
    ]
    df = spark.createDataFrame(rows, ["x1", "x2", "y"])
    r = ols2_fit(df, F.col("x1"), F.col("x2"), F.col("y")).collect()[0]
    assert (
        r["n_points"], r["beta0"], r["beta1"], r["beta2"], r["r2"],
    ) == (20, 0.5, 0.25, -0.125, 1.0)


# ------------------------------------------------- 4. chi2 NULL levels

def test_chi2_null_categories_excluded(spark):
    from mapreduce_inverted_index_spark.operators.quality import (
        chi_square_independence,
    )

    # Perfectly independent 2x2 plus NULL-category noise rows. The
    # NULLs must not create phantom grid levels (n_cells would read
    # 3x3=9 and dof 4) nor enter the margins.
    rows = (
        [("a", "x")] * 4 + [("a", "y")] * 4
        + [("b", "x")] * 2 + [("b", "y")] * 2
        + [(None, "x")] * 3 + [("a", None)] * 3 + [(None, None)] * 2
    )
    df = spark.createDataFrame(rows, ["u", "v"])
    r = chi_square_independence(df, "u", "v").collect()[0]
    assert (r["n_rows"], r["n_cells"], r["dof"], r["chi2"]) == (12, 4, 1, 0.0)


# --------------------------------------------- 5. weighted_sample guard

def test_weighted_sample_rejects_negative_weight(spark):
    from mapreduce_inverted_index_spark.operators.curation import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 2.0)], ["doc_id", "w"]
    )
    with pytest.raises(Exception, match="weight must be"):
        weighted_sample(df, "w", k=2).collect()


def test_weighted_sample_rejects_null_weight(spark):
    from mapreduce_inverted_index_spark.operators.curation import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 2.0)], ["doc_id", "w"]
    )
    with pytest.raises(Exception, match="weight must be"):
        weighted_sample(df, "w", k=2).collect()


def test_weighted_sample_valid_weights_unchanged(spark):
    from mapreduce_inverted_index_spark.operators.curation import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(1, 101)], ["doc_id", "w"]
    )
    got = weighted_sample(df, "w", k=10).collect()
    assert len(got) == 10
    # Deterministic: replay picks the identical set in the same order.
    again = weighted_sample(df, "w", k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in again]


# --------------------------------- 6. sf-gated semantic dedup anchor

def test_semantic_dedup_anchor_gate_matches_oracle(spark, sf_smoke):
    """Force the anchor cap below the fixture's 500 embeddings: the
    gated (md5-sampled) path must still match the identically-gated
    DuckDB oracle, and the sampled anchor population must actually be
    smaller than the corpus."""
    import duckdb

    from mapreduce_inverted_index_spark.plans.queries_llm import (
        _sem_anchor_pred,
        _sem_oracle,
        _semantic_dedup_contract,
    )

    got = _semantic_dedup_contract(spark, sf_smoke, anchor_cap=100).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_smoke}/embeddings.parquet'"
    )
    want = con.execute(_sem_oracle(100)).fetchall()
    assert len(got) == 1
    assert (
        got[0]["n_true_pairs"],
        got[0]["all_found_real"],
        got[0]["recall_floor_met"],
    ) == want[0]

    # the sample predicate really thins the population (~100 of 500),
    # and Spark/DuckDB agree on WHICH vec_ids survive
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from mapreduce_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    thr = int(math.floor(100 * 65536.0 / n))
    kept_spark = sorted(
        r["vec_id"]
        for r in emb.where(_sem_anchor_pred(F.col("vec_id"), thr))
        .select("vec_id")
        .collect()
    )
    kept_duck = [
        r[0]
        for r in con.execute(
            "SELECT vec_id FROM embeddings WHERE "
            "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER)"
            f" < {thr} ORDER BY vec_id"
        ).fetchall()
    ]
    assert kept_spark == kept_duck
    assert 0 < len(kept_spark) < n // 2


# --------------------------- 7. reliable checkpoint for iterative ops

def test_reliable_checkpoint_identical_results(spark, tmp_path):
    """The cluster-grade fault-tolerance grade: once the session has a
    checkpoint dir, all three iterative operators truncate lineage
    with reliable checkpoints into it, and their results are
    identical to the localCheckpoint grade used without one."""
    import os

    from mapreduce_inverted_index_spark.operators.dedup import dup_components
    from mapreduce_inverted_index_spark.operators.graph import (
        bfs_levels,
        pagerank_fixed_point,
    )

    # a two-component graph with a 5-chain (multiple BFS/CC rounds)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12)],
        "u long, v long",
    )
    seeds = spark.createDataFrame([(1,), (10,)], "id long")
    pairs = edges.select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b")
    )

    def run():
        return (
            sorted(map(tuple, bfs_levels(edges, seeds, max_hops=3).collect())),
            sorted(
                (r["id"], r["rank_nano"])
                for r in pagerank_fixed_point(edges, iters=3).collect()
            ),
            sorted(map(tuple, dup_components(pairs).collect())),
        )

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = run()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = run()
    finally:
        # the shared session goes back to the localCheckpoint grade
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert reliable == local
    bfs, _, cc = reliable
    assert len(bfs) == 7  # 5-chain capped at 3 hops
    assert {c for _, c in cc} == {1, 10}
    assert any(os.scandir(str(tmp_path / "ckpt"))), (
        "reliable mode must actually write checkpoint files"
    )


def test_weighted_sample_rejects_overflow_weight(spark):
    """Weights past bigint range would overflow the cast — NULL
    priority under non-ANSI engines, which sorts first and silently
    wins. The guard must raise instead."""
    from mapreduce_inverted_index_spark.operators.curation import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, 1.0e19), (3, 2.0)], ["doc_id", "w"]
    )
    with pytest.raises(Exception, match="weight must be"):
        weighted_sample(df, "w", k=2).collect()
