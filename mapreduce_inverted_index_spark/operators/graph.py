"""Graph analytics over event co-occurrence: edge derivation and
degree-oriented triangle counting.

Training-data pipelines grow graph problems fast — duplicate
clusters (``dedup.dup_components`` pointer-jumping), citation /
link graphs, and interaction graphs for abuse or community signals.
This module adds the canonical *counting* member: triangles, with
the degree-orientation trick that makes exact triangle enumeration
feasible at web scale (wedge work is bounded by Σ out-deg² with
out-degree ≤ O(√m) after orientation — the MapReduce-era result of
Suri & Vassilvitskii's "Counting Triangles and the Curse of the
Last Reducer", replayed here as three DataFrame joins Catalyst can
shuffle-plan).

Everything is integer math on ids and counts, so a DuckDB oracle
replays it exactly — no float tolerance anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.checkpointing import truncate_lineage
from mapreduce_inverted_index_spark.operators.dedup import (
    MAX_BLOCK_ROWS,
    bounded_block_join,
)

__all__ = [
    "cooccurrence_edges",
    "triangle_stats",
    "bfs_levels",
]


def cooccurrence_edges(events: DataFrame) -> DataFrame:
    """Distinct undirected edges ``(u, v), u < v`` between users
    active on the same ``event_type`` within the same clock minute
    — the standard co-occurrence edge derivation (sessions sharing a
    context become edges).

    The clock bucket is THE scale knob, and it must tighten as event
    rate grows: co-occurrence edge count is Σ|ctx|², so a context
    window whose population grows linearly with traffic saturates the graph
    into a clique (measured here: hour-buckets at 10x the event rate
    put ~70% of all user pairs adjacent, at which point triangle
    work degenerates to C(n,3) no matter how it's counted — no
    algorithm fixes a definition that stopped being sparse).
    Minute-buckets keep context population roughly constant as
    traffic grows, which is what a real pipeline does (fixed-width
    sessions, capped fan-out).

    The pair generator is the blocked self-join shared with the
    dedup family (``bounded_block_join``): the block key is the
    (event_type, minute) context, distinct-ified per user BEFORE
    the join so a chatty user contributes one row per context, not
    one per event; ``MAX_BLOCK_ROWS`` chunks a hot context (a
    flash-mob minute) into k² bounded sub-joins instead of one
    straggler task.

    The ctx table feeds three branches of the bounded join (both
    pair sides + the block-size counts pass) and the STATIC plan
    shows an events scan per branch — deliberately left
    un-persisted: the branches share the distinct's Exchange
    subtree, which Spark's exchange reuse computes once at runtime,
    so the scans never actually replay; persisting ctx (and the
    triangle query's edges/deg/oriented) was A/B-measured at sf1 in
    r13 and LOST 1.8-2.2× — cache materialization + storage-memory
    pressure against the wedge join's execution memory, for
    recomputation that reuse had already eliminated.
    """
    ctx = (
        events.select(
            F.concat_ws(
                "",
                "event_type",
                F.date_trunc("minute", "ts").cast("string"),
            ).alias("ctx"),
            F.col("user_id"),
        )
        .distinct()
    )
    a = ctx.select("ctx", F.col("user_id").alias("u"))
    b = ctx.select("ctx", F.col("user_id").alias("v"))
    return (
        bounded_block_join(a, b, "ctx", "u", "v", MAX_BLOCK_ROWS)
        .select("u", "v")
        .distinct()
    )


def _directed_edges(edges: DataFrame) -> DataFrame:
    """Persisted both-directions edge list ``(src, dst)`` from
    undirected ``(u, v)`` rows — the per-round join table of the
    iterative ops. Built with ONE explode pass, not a two-branch
    union: a union's branches each re-derive the whole upstream
    edge pipeline (for co-occurrence edges that is the events scan +
    distinct + blocked self-join, twice) before the persist
    materializes; the explode doubles rows in the same single pass.
    """
    de = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    return de.persist()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count by degree orientation. Input: distinct
    undirected ``(u, v)`` edges with ``u < v``; output one row:
    ``n_vertices, n_edges, n_triangles`` (all BIGINT, exact).

    Orientation: every edge points from its lower-(degree, id)
    endpoint to its higher one — a total order, so each triangle is
    counted exactly once as apex → (b, c) wedge closed by oriented
    edge b → c. The wedge self-join on the apex is the heavy stage;
    after orientation out-degree is O(√m), which is what keeps the
    "curse of the last reducer" (one celebrity vertex with 10⁸
    neighbors producing 10¹⁶ wedges) away at 100 TB. The degree
    table is one row per vertex; joining it onto edges is a plain
    shuffle join Catalyst will broadcast when it fits.

    ``edges`` feeds four branches (degrees, the orientation join,
    the edge count) and ``oriented`` three (both wedge sides + the
    closing join); the static plan replicates each subtree per
    branch (r13 audit: 72 events scans / 476 Exchanges for the
    co-occurrence input), but the replicas canonicalize to the same
    Exchanges, which Spark computes once at runtime — persisting
    edges/deg/oriented instead was A/B-measured at sf1 in r13 and
    LOST 1.8-2.2× (cache materialization + storage-memory pressure
    against the wedge join), so the reuse-based shape stays. The
    degree table IS built with one explode pass rather than a
    two-branch union: union branches are not exchange-identical, so
    that duplication was real.
    """
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        edges.join(deg.withColumnRenamed("x", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
    )
    o1 = oriented.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("b"),
        F.col("dst_deg").alias("db"),
    )
    o2 = oriented.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("c"),
        F.col("dst_deg").alias("dc"),
    )
    wedges = o1.join(o2, "apex").where(
        F.struct("db", "b") < F.struct("dc", "c")
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    counts = edges.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").alias("n_vertices"))
    )
    # Both sides are single-row aggregates; the crossJoin is 1x1.
    return counts.crossJoin(tris).select(
        "n_vertices", "n_edges", "n_triangles"
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source breadth-first levels over undirected ``(u, v)``
    edges: for every vertex within ``max_hops`` of any seed, the
    minimum hop count to the seed set. Output ``id, level`` (both
    BIGINT/INT, exact — a DuckDB recursive CTE replays it verbatim,
    no tolerance anywhere).

    This is the neighborhood-expansion primitive behind "N hops from
    a flagged account" abuse sweeps and contamination blast-radius
    queries (which training shards touch a leaked document's
    neighborhood?). ``max_hops`` is a hard contract, not a
    convergence hope: frontier size can grow geometrically, so an
    unbounded traversal on a 100 TB interaction graph is a query that
    never comes back — the cap bounds both rounds and state.

    Shape per round (the Pregel message pattern, as in
    :func:`pagerank_fixed_point`): newly-reached frontier ⋈ edges on
    ``src`` (one shuffle join), distinct on ``dst``, left-anti join
    against the visited set (second shuffle) — so each round's cost
    is O(frontier out-degree), NOT O(graph). The visited set and
    each frontier are lineage-truncated per round
    (``localCheckpoint``, or the session's checkpoint dir when one is
    set — results identical, see ``checkpointing.truncate_lineage``).
    The driver loop holds only the hop COUNTER — no data, no
    convergence ``collect``. Rounds whose frontier is
    already empty cost two empty-input jobs each, never a scan.

    Seeds outside the vertex set are still emitted at level 0 (they
    are trivially at distance 0 from themselves), matching the
    recursive-CTE oracle's UNION seed row.
    """
    de = _directed_edges(edges)
    # Size the per-round shuffles to the GRAPH, not the session
    # default (the pagerank_fixed_point discipline): max_hops rounds
    # x 2 shuffles each multiply per-task overhead, so a modest graph
    # must not pay 32 near-empty tasks per shuffle while a huge one
    # keeps full parallelism. Conf is read at EXECUTION time, so the
    # final state materializes (eager checkpoint) inside the window.
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig_parts = spark.conf.get(conf_key)
    n_edges = de.count()
    parts = max(1, min(int(orig_parts), n_edges // 50_000 + 1))
    spark.conf.set(conf_key, str(parts))
    try:
        visited = truncate_lineage(
            seeds.select(F.col(seeds.columns[0]).cast("long").alias("id"))
            .distinct()
            .withColumn("level", F.lit(0))
        )
        frontier = visited
        for hop in range(1, max_hops + 1):
            reached = (
                frontier.join(de, frontier.id == de.src)
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            frontier = truncate_lineage(
                reached.join(visited, "id", "left_anti")
                .withColumn("level", F.lit(hop))
            )
            visited = truncate_lineage(visited.unionAll(frontier))
        visited = truncate_lineage(visited, eager=True)
    finally:
        spark.conf.set(conf_key, orig_parts)
    return visited


_NANO = 10**9  # rank fixed-point unit: BIGINT nano-ranks


def pagerank_fixed_point(
    edges: DataFrame,
    d_pct: int = 85,
    iters: int = 5,
) -> DataFrame:
    """PageRank over undirected ``(u, v)`` edges in FIXED-POINT
    integer arithmetic: ranks live as nano-units (``rank · 10⁹`` as
    BIGINT) and every step — contribution split, damping, teleport —
    is integer division/multiplication, so the result is EXACT,
    order-independent, partitioning-independent, and replayable
    verbatim by a DuckDB oracle with ``iters`` unrolled CTEs. Float
    PageRank can't offer any of that: its per-vertex sums are
    float-order-dependent and every engine rounds differently.

    Per iteration (the standard power step, integer-floored):
      ``contrib(u) = rank(u) div deg(u)``      (exact split)
      ``rank'(v) = ((100 - d_pct) · 10⁹) div (100 · N)
                   + (d_pct · Σ contrib) div 100``
    Floor division leaks ≤ 1 nano-unit per division — a defined,
    deterministic part of the semantics (documented, not noise); at
    10⁹ nano-units per unit the leak is ~1e-9 per vertex per round,
    far below any ranking-relevant difference.

    Scale shape: the edge list (doubled for undirectedness) and the
    degree table persist across rounds; each round is one
    shuffle join (ranks × edges on src) + one aggregation on dst +
    one left join back onto the vertex set — the Pregel message
    pattern as three Catalyst-planned hash operations. Lineage is
    truncated per round via ``checkpointing.truncate_lineage`` —
    ``localCheckpoint``, or fault-tolerant ``checkpoint()`` when the
    session has a checkpoint dir (results identical). The driver loop
    holds an iteration COUNTER only — no data, no convergence
    collect.

    Output: ``id, rank_nano (BIGINT), rank (DOUBLE = nano / 10⁹)``.
    """
    de = _directed_edges(edges)
    # Size each round's shuffles to the GRAPH, not the session
    # default (same discipline as dedup.dup_components): 5 rounds x
    # 2-3 shuffles each multiply per-task overhead, so a modest graph
    # must not pay 32 near-empty tasks per shuffle (measured at
    # sf0.1: 32 -> 4.7 s, 8 -> 2.1 s), while a huge one keeps full
    # parallelism (~50k edges per task).
    spark = edges.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    orig_parts = spark.conf.get(conf_key)
    n_edges = de.count()
    parts = max(1, min(int(orig_parts), n_edges // 50_000 + 1))
    spark.conf.set(conf_key, str(parts))
    try:
        deg = de.groupBy("src").agg(F.count("*").alias("deg")).persist()
        n = deg.agg(F.count("*").alias("_n"))
        teleport = F.expr(f"({(100 - d_pct)} * {_NANO}L) div (100 * _n)")
        state = (
            deg.crossJoin(F.broadcast(n))
            .select(
                F.col("src").alias("id"),
                "deg",
                F.expr(f"{_NANO}L div _n").alias("rank_nano"),
            )
        )
        state = truncate_lineage(state)
        for _ in range(iters):
            contrib = (
                state.join(de, state.id == de.src)
                .select(
                    F.col("dst"),
                    F.expr("rank_nano div deg").alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            state = (
                deg.join(contrib, deg.src == contrib.dst, "left")
                .crossJoin(F.broadcast(n))
                .select(
                    F.col("src").alias("id"),
                    "deg",
                    (
                        teleport
                        + F.expr(f"({d_pct} * coalesce(s, 0L)) div 100")
                    ).alias("rank_nano"),
                )
            )
            state = truncate_lineage(state)
        # Shuffle-partition conf is read at EXECUTION, not plan build,
        # so the chain must materialize inside the conf window: one
        # eager checkpoint of the final state evaluates all rounds
        # (per-round checkpoints stay lazy truncation points). Same
        # build-time-jobs tradeoff as ivf_centroids' default.
        state = truncate_lineage(state, eager=True)
    finally:
        spark.conf.set(conf_key, orig_parts)
    return state.select(
        "id",
        "rank_nano",
        (F.col("rank_nano").cast("double") / F.lit(float(_NANO))).alias("rank"),
    )
