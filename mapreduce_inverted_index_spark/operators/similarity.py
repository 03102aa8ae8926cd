"""Similarity search over dense embedding columns (ARRAY<FLOAT>).

Two tiers, per the standard ANN playbook:

  * **brute-force cosine top-k** — the exactness baseline. Query set
    is broadcast; every (query, candidate) cosine is a JVM-side
    ``zip_with``/``aggregate`` fold (no Python). Cost is Q × N — fine
    for small Q at any N because the scan is embarrassingly parallel
    and nothing shuffles except the tiny per-query top-k heaps.
  * **LSH-bucketed ANN** — the scale path. Deterministic
    random-hyperplane signatures (sign of Σ ±v_i, with the ±1 matrix
    derived from md5(plane, dim-index) and baked in as literal
    arrays — no stored model, no per-row hashing) bucket similar
    vectors together; search touches only the probe bucket. The md5
    derivation makes the signatures replayable by the DuckDB oracle,
    so the whole query is value-checked; recall < 1 by construction
    is additionally verified against brute force in tests.

  * **IVF (inverted-file) ANN** — the other classic scale path.
    A small k-means codebook (deterministic Lloyd iterations, all
    broadcast joins — the driver never holds vectors) partitions the
    corpus into cells; a probe scores only the ``n_probe`` cells
    whose centroids are nearest the query. Probing every cell
    degenerates to exact brute force, which the tests exploit as a
    deterministic equality check.

All three share one output shape (``query_id, vec_id, cos_sim,
rank``) so they are interchangeable downstream; at 100 TB the cell /
bucket column becomes the storage partition key and a probe is a
partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.vectors import cosine_similarity

__all__ = [
    "brute_force_topk",
    "hard_negatives",
    "embedding_near_dup",
    "hyperplane_signs",
    "lsh_bucket_topk",
    "ivf_centroids",
    "ivf_assign",
    "ivf_multi_assign",
    "ivf_topk",
    "write_ivf_cells",
    "ivf_pruned_scan_topk",
    "semantic_dedup_pairs",
    "semantic_incremental_dedup",
    "quantize_embeddings",
    "dequantize",
    "label_centroids",
    "label_centroid_cosines",
    "gram_matrix",
    "pca_project",
]

N_PLANES = 6  # 64 buckets; widen as the corpus grows (buckets ~ N / target_bucket_size)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` is (query_id, query_vec); it is broadcast so the big
    side never shuffles. Output: ``query_id, vec_id, cos_sim, rank``
    (self-matches excluded; rounded cosine + id tiebreak keeps the
    ranking deterministic).
    """
    cand = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("vec"))
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked to bound the
    pair space (same blocking argument as text dedup).
    Blocks are ``label`` groups. Output: ``vec_a, vec_b, cos_sim``.

    ``MAX_BLOCK_ROWS`` bounds per-task time when one block dominates:
    oversized blocks are hash-chunked into exact sub-joins (see
    ``dedup.bounded_block_join``); results are unchanged.
    """
    from mapreduce_inverted_index_spark.operators.dedup import (
        MAX_BLOCK_ROWS,
        bounded_block_join,
    )

    e = embeddings.select(
        F.col("label").alias("blk"), F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    )
    a = e.select(F.col("blk"), F.col("vid").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("blk"), F.col("vid").alias("vec_b"), F.col("v").alias("vb"))
    return (
        bounded_block_join(a, b, "blk", "vec_a", "vec_b", MAX_BLOCK_ROWS)
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def ivf_multi_assign(
    embeddings: DataFrame,
    cents: DataFrame,
    r: int = 3,
) -> DataFrame:
    """Soft IVF assignment: each vector indexed under its ``r``
    nearest (max-cosine) cells — one output row per (vector, cell).

    Multi-assignment is how cell-blocked pair generation recovers the
    recall a single cell loses at cluster boundaries (two vectors
    cosine-τ apart can straddle a Voronoi edge; with r cells each,
    they share one with high probability). Same collected-codebook
    shape as :func:`ivf_assign` (which the x100 decade probe
    motivated — see :func:`_argmax_cell`): the top-r cut is a
    ``sort_array + slice`` over a literal per-centroid struct array,
    a pure projection + explode — the corpus is never joined or
    aggregated to be scored. Ties prefer the lower cell id, matching
    ``ivf_assign``; per-pair cosines are the same expression tree as
    the old broadcast-join route, so output is float-identical.

    Edge semantics of the collected-codebook route (differ from the
    retired broadcast-join form): the codebook is collect()ed EAGERLY
    at plan-build time (callers holding a lazy ``cents`` pay its
    compute here, not at the first action); duplicate input rows pass
    through per-row (nothing groups the corpus); an EMPTY codebook
    short-circuits to an empty result — the retired join's behavior —
    instead of building a degenerate literal.
    """
    e = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("vec"))
    rows = [
        (row["cell"], row["centroid"])
        for row in cents.select("cell", "centroid").collect()
    ]
    if not rows:
        return e.where(F.lit(False)).withColumn(
            "cell", F.lit(None).cast("int")
        )
    # sorting the 3-field (cos, negc, cell) structs desc orders
    # exactly like the retired join's (cos, negc) sort — negc is unique, so
    # the third field never decides
    top = F.slice(
        F.sort_array(_cell_score_structs("vec", rows), asc=False), 1, r
    )
    return e.select(
        "vec_id", "vec", F.explode(top).alias("_t")
    ).select("vec_id", "vec", F.col("_t.cell").alias("cell"))


def semantic_dedup_pairs(
    embeddings: DataFrame,
    cents: DataFrame | None = None,
    tau: float = 0.4,
    r: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: vectors sharing
    at least one of their ``r`` nearest k-means cells, verified
    ``cosine >= tau``. Output: ``a_id, b_id, cos_sim`` (distinct).

    This is the embedding-space analog of MinHash banding: the
    learned codebook plays the band table, multi-assignment plays the
    multiple bands, and the exact cosine check plays verification —
    candidates are Σ_cell |cell|² (bounded per task via hash-chunking
    of hot cells), never the N² all-pairs. Recall < 1 by construction
    (pairs straddling all r cells are missed); the catalog carries a
    measured-recall contract against the brute-force anchor, same
    pattern as the pruned IVF probe.
    """
    from mapreduce_inverted_index_spark.operators.dedup import (
        MAX_BLOCK_ROWS,
        bounded_block_join,
    )

    if cents is None:
        cents = ivf_centroids(embeddings)
    multi = ivf_multi_assign(embeddings, cents, r)
    a = multi.select("cell", F.col("vec_id").alias("a_id"), F.col("vec").alias("va"))
    b = multi.select("cell", F.col("vec_id").alias("b_id"), F.col("vec").alias("vb"))
    return (
        bounded_block_join(a, b, "cell", "a_id", "b_id", MAX_BLOCK_ROWS)
        .select(
            "a_id",
            "b_id",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= tau)
        .distinct()
    )


def hyperplane_signs(dim: int, plane: int) -> list[int]:
    """Deterministic ±1 hyperplane for ``plane`` over ``dim`` dims,
    derived from md5 (no RNG state). md5 so the same constants are
    reproducible anywhere — including inside the DuckDB oracle SQL,
    which makes the whole LSH query value-checkable cross-engine."""
    import hashlib

    return [
        1 if hashlib.md5(f"lsh-plane-{plane}-{i}".encode()).digest()[0] % 2 == 0 else -1
        for i in range(dim)
    ]


def _hyperplane_sign(vec_col: str, plane: int, dim: int) -> F.Column:
    """sign(Σ_i s(i, plane) · v_i) with s ∈ {±1} baked in as a LITERAL
    array: constant-folded JVM-side (zero per-row hashing — strictly
    faster than the previous per-element xxhash64 formulation) and
    bit-identical to the oracle's left-fold."""
    signs = F.array(*[F.lit(float(s)) for s in hyperplane_signs(dim, plane)])
    signed = F.aggregate(
        F.zip_with(F.col(vec_col), signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(signed >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_signature(vec_col: str, dim: int = 64) -> F.Column:
    """Pack ``N_PLANES`` hyperplane signs into one integer bucket id.
    ``dim`` must EQUAL the vector length (``zip_with`` null-pads any
    length mismatch, which nulls the fold).

    Generated as ONE SQL string parsed JVM-side: the Column form
    built N_PLANES·dim literal nodes one py4j call at a time (~840
    round-trips for 6 planes x 64 dims — seconds of pure plan
    construction on a loaded driver; the simhash_signatures finding,
    OPTIMIZATION_r13 §7). Identical expression tree —
    ``_hyperplane_sign`` remains the Column-level reference and
    pytest pins the two forms equal.
    """
    # backtick-quoted identifier, embedded backticks doubled: any
    # top-level column name parses as that one column. This matches
    # F.col(vec_col) only for non-dotted names — a dotted name is one
    # literal top-level column here, not F.col's struct-field path.
    quoted = vec_col.replace("`", "``")
    terms = []
    for p in range(N_PLANES):
        signs = ", ".join(
            f"{float(s)}D" for s in hyperplane_signs(dim, p)
        )
        terms.append(
            f"IF(aggregate(zip_with(`{quoted}`, array({signs}), "
            "(x, s) -> CAST(x AS DOUBLE) * s), 0D, "
            f"(acc, v) -> acc + v) >= 0, {1 << (N_PLANES - 1 - p)}, 0)"
        )
    return F.expr(" + ".join(terms))


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH
    bucket. The candidate side is pre-bucketed once (at scale:
    persisted, partitioned by bucket → a probe is a pruned scan);
    the join is bucket-key equi-join instead of a cross join.
    Output shape matches :func:`brute_force_topk`.

    ``dim``: vector length for the baked-in hyperplane literals;
    probed from the first row when omitted (one tiny driver action —
    pass it explicitly in pipelines).
    """
    if dim is None:
        dim = embeddings.select(F.size("embedding")).first()[0]
    cand = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("vec"),
        lsh_signature("embedding", dim=dim).alias("bucket"),
    )
    q = queries.select(
        "query_id", "query_vec", lsh_signature("query_vec", dim=dim).alias("bucket")
    )
    scored = (
        cand.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def _cell_score_structs(vec_col, cents_rows) -> Column:
    """Per-centroid ``(cos, -cell, cell)`` score structs for one
    vector, against a COLLECTED codebook (``[(cell, centroid
    floats), ...]``, ≤ n_cells entries — a bounded planning read,
    same discipline as the BPE argmax). The codebook rides as TWO
    nested-array Literal nodes (cell ids, centroid matrix) looped by
    one ``zip_with`` lambda — one small expression regardless of
    n_cells. Unrolling a struct per centroid instead generates a
    plan Janino must compile per NEW codebook (measured: 1.3s warm
    vs 0.23s at 2k vectors x 16 cells); the broadcast crossJoin +
    corpus aggregate (``ivf_centroids(checkpoint=False)``) is 4.2x
    slower than this at 500k vectors x 64 cells. Each (vector,
    centroid) cosine is the same :func:`cosine_similarity` expression
    tree in all three routes, so outputs are float-identical
    (forced-route pytest)."""
    if not cents_rows:
        raise ValueError(
            "empty codebook: callers short-circuit to an empty result "
            "(the retired join's behavior) before building the literal"
        )
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    idx = F.lit([int(cell) for cell, _ in cents_rows])
    mat = F.lit([[float(x) for x in c] for _, c in cents_rows])
    return F.zip_with(
        idx,
        mat,
        lambda cell, c: F.struct(
            cosine_similarity(v, c).alias("cos"),
            (-cell).alias("negc"),
            cell.alias("cell"),
        ),
    )


def _argmax_cell(vec_col, cents_rows) -> Column:
    """Map-only nearest-cell assignment: ``array_max`` over
    :func:`_cell_score_structs` picks the lexicographic max of
    ``(cos, -cell)`` — exactly ``max_by(cell, struct(cos, -cell))``.
    The corpus is never joined, exploded, or aggregated to be
    assigned: at 100 TB this is a projection, zero exchanges
    (pytest-pinned plan)."""
    return F.array_max(_cell_score_structs(vec_col, cents_rows))["cell"]


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Deterministic k-means codebook: ``(cell, centroid)``.

    Seeds are hash-spread: vectors are bucketed by
    ``xxhash64(id) mod n_cells`` and each bucket's min-hash vector
    seeds one cell — deterministic with no RNG state, and dispersed
    across the id space (the lowest-id-N alternative degenerates when
    low ids cluster, e.g. ingestion order correlates with content).
    Each Lloyd iteration assigns every vector to its max-cosine
    centroid (crossJoin against the BROADCAST ``n_cells``-row
    codebook — the corpus never shuffles for assignment) and
    recomputes centroids as the element-wise mean via posexplode →
    (cell, dim) avg → re-assemble. ``iters`` is a small fixed
    constant, so the driver loop holds only tiny codebook plans,
    never data. Empty cells drop out of the codebook.

    ``checkpoint=True`` (default) COLLECTS the ≤ n_cells-row codebook
    each round (a bounded planning read, the BPE-argmax discipline)
    and assigns via :func:`_argmax_cell` — a map-only projection
    against centroid literals, so the corpus is never joined or
    aggregated to be assigned and per-round lineage stays constant
    (no localCheckpoint blocks needed). It runs iters+1 tiny jobs at
    BUILD time (laziness lost). ``checkpoint=False`` is the fully
    lazy reference route the tests pin the default against (no
    oracle checks the codebook itself): per round, crossJoin against
    the BROADCAST codebook plus a corpus-sized max_by aggregate —
    float-identical output, linear both ways, but one extra corpus
    aggregate per round.

    Edge semantics of the checkpoint route (differ from the reference
    route): the per-round collect makes codebook compute EAGER at
    build time, and duplicate ``(id, vec)`` input rows each weight
    the centroid means per-row (the reference route's ``groupBy(vid,
    v)`` collapsed exact duplicates before averaging). An empty
    corpus short-circuits: the loop stops and the empty ``(cell,
    centroid)`` codebook returns, as the reference route produces.
    """
    e = embeddings.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    seeds = (
        e.select(
            F.pmod(F.xxhash64("vid"), F.lit(n_cells)).alias("bucket"),
            F.xxhash64("vid").alias("h"),
            "vid",
            "v",
        )
        .groupBy("bucket")
        .agg(F.min_by("v", F.struct("h", "vid")).alias("v"))
    )
    # the unpartitioned window orders the AGGREGATED seed table: one
    # partition of ≤ n_cells rows, constant-size at any corpus scale
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("bucket")) - 1).alias("cell"),
        F.col("v").cast("array<double>").alias("centroid"),
    )
    for _ in range(iters):
        if checkpoint:
            rows = [
                (r["cell"], r["centroid"])
                for r in cents.select("cell", "centroid").collect()
            ]
            if not rows:  # empty corpus -> empty codebook, done
                break
            assigned = e.withColumn("cell", _argmax_cell("v", rows))
        else:
            assigned = e.crossJoin(F.broadcast(cents)).groupBy("vid", "v").agg(
                F.max_by(
                    "cell",
                    F.struct(cosine_similarity("v", "centroid"), -F.col("cell")),
                ).alias("cell")
            )
        new_cents = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
        # literal route: the next round collects anyway and the plan
        # is shallow (one scan + two aggs), so no per-round
        # checkpoint blocks; reference route: lazy by contract,
        # lineage cost accepted
        cents = new_cents
    if checkpoint:
        # materialize the RETURNED codebook once: downstream
        # consumers (assign, probes, cell-store builds) reuse the
        # ≤ n_cells checkpointed rows instead of re-running the last
        # Lloyd round's corpus scan per action — dropping this cost
        # a measured 2.4x on the IVF contract query
        cents = cents.localCheckpoint(eager=True)
    return cents


def ivf_assign(
    embeddings: DataFrame,
    cents: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Tag every vector with its nearest (max-cosine) cell. At scale
    this is the build step: write the result partitioned by ``cell``
    so probes become partition-pruned scans. ``extra_cols`` carries
    candidate metadata (e.g. the label a hard-negative miner filters
    on) into the cell layout so probes never join back to the source
    table.

    Assignment is :func:`_argmax_cell` against the collected
    codebook — a map-only projection (the old shape crossJoined the
    broadcast codebook then re-aggregated the whole corpus keyed on
    the VECTOR array to pick the max; at 500k vectors the x100
    decade probe clocked that aggregate as the dominant cost of the
    cell-store seed). The collect is ≤ n_cells rows.

    Edge semantics of the collected-codebook route (differ from the
    retired crossJoin+re-aggregate form): the codebook is collect()ed
    EAGERLY at plan-build time (a lazy ``cents`` is computed here,
    not at the first downstream action); duplicate ``(id, vec)``
    input rows each get their own output row (the old corpus
    re-aggregate collapsed them — assignment is now a pure
    projection, which is the point); an EMPTY codebook
    short-circuits to an empty result, matching the old join.
    """
    e = embeddings.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("vec"), *extra_cols
    )
    rows = [
        (r["cell"], r["centroid"])
        for r in cents.select("cell", "centroid").collect()
    ]
    if not rows:
        return e.where(F.lit(False)).withColumn(
            "cell", F.lit(None).cast("int")
        )
    return e.withColumn("cell", _argmax_cell("vec", rows))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    cents: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` cells whose
    centroids are nearest each query.

    Candidate work drops from Q × N to ~Q × N · n_probe/n_cells; the
    probe list is a tiny (query × n_probe) broadcast joined on the
    cell key. With ``n_probe >= n_cells`` every cell is probed and
    the result equals :func:`brute_force_topk` exactly — independent
    of any float noise in the codebook, since cells then only
    partition the same full candidate set (test + oracle anchor).
    Output shape matches the other two tiers.

    ``cents`` / ``assigned``: optional prebuilt codebook and
    cell-tagged corpus (the build step at scale — compute once,
    persist partitioned by cell, reuse across probes).
    """
    if cents is None:
        cents = ivf_centroids(embeddings, n_cells)
    if assigned is None:
        assigned = ivf_assign(embeddings, cents)
    pw = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "query_vec",
            "cell",
            cosine_similarity("query_vec", "centroid").alias("cos_c"),
        )
        .withColumn("pr", F.row_number().over(pw))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "query_vec", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def write_ivf_cells(assigned: DataFrame, path: str) -> None:
    """Materialize the cell-tagged corpus ``partitionBy(cell)`` —
    the IVF build artifact. After this write, a probe of p cells
    reads p directories and nothing else (``PartitionFilters`` on
    the scan, audit-asserted) — the storage-level realization of
    "candidate work ~ n_probe/n_cells" that an in-memory cell
    column can only promise.

    File shape (r14, guide §6): ``ivf_assign`` is a map-only
    projection, so an unclustered ``partitionBy(cell)`` write fans
    every SCAN task out into one file per cell it touches — up to
    tasks x n_cells files; at a 100 TB corpus that is thousands of
    small files per cell directory, paying the small-files tax (and
    the commit-protocol file count) on every probe.
    A hash ``repartition`` on the cell key first clusters each cell
    into ONE write task (the compaction path's layout, see
    ``_compact_cells``), and ``sortWithinPartitions(vec_id)`` makes
    the per-file vec_id min/max stats tight and the layout canonical."""
    from mapreduce_inverted_index_spark.operators.store import seed_store

    clustered = assigned.repartition("cell").sortWithinPartitions("vec_id")
    seed_store(clustered, path, "cell")


def delete_from_ivf_cells(
    spark,
    path: str,
    vec_ids: "list[int] | DataFrame",
) -> list[int]:
    """Takedown from the IVF cell store — the DELETE half of the
    embedding-state maintenance pair (:func:`write_ivf_cells` /
    ``streaming.ingest.maintain_semantic_cells_available_now`` are
    the ADD half, ``inverted_index.delete_from_index_store`` is the
    text twin): remove a batch of vector ids, rewriting ONLY the cell
    partitions that actually contain them. Untouched cell
    directories keep their exact files (pytest-pinned by file
    listing) — at 100 TB a takedown touches r ≈ batch-sized cells,
    never the corpus.

    Mechanics: one partition-pruned-able scan locates the affected
    cells (broadcast semi-join on the id batch), the surviving rows
    of ONLY those cells rewrite through a tmp directory, and the
    affected cell dirs swap via rename (the filesystem stand-in for
    a transactional format's partition-level REPLACE, same note as
    ``maintain_index_available_now``). A cell whose last member dies
    is removed entirely. Returns the affected cell ids (diagnostics /
    downstream cache invalidation). A directory with no manifest is
    refused (``FileNotFoundError`` naming :func:`write_ivf_cells`):
    a takedown queue must not checkpoint ids away against a store
    that does not exist yet.
    """
    from mapreduce_inverted_index_spark.operators.store import (
        rewrite_partitions,
    )

    if isinstance(vec_ids, DataFrame):
        dead = vec_ids.select(F.col("vec_id").alias("vec_id"))
    else:
        dead = spark.createDataFrame(
            [(int(v),) for v in vec_ids], "vec_id bigint"
        )

    def plan(cells: DataFrame, manifest: dict):
        affected = sorted(
            r["cell"]
            for r in cells.join(F.broadcast(dead), "vec_id")
            .select("cell")
            .distinct()
            .collect()
        )
        remaining = cells.where(F.col("cell").isin(affected)).join(
            F.broadcast(dead), "vec_id", "left_anti"
        )
        return affected, remaining

    return rewrite_partitions(spark, path, "cell", plan)


def compact_ivf_cells(
    spark,
    path: str,
    max_files_per_cell: int = 4,
) -> list[int]:
    """Small-file compaction for the IVF cell store — the third leg
    of the state lifecycle (:func:`write_ivf_cells` / the streaming
    maintenance loop APPEND a file per micro-batch per cell;
    :func:`delete_from_ivf_cells` removes). Cells holding more than
    ``max_files_per_cell`` parquet files are rewritten to a single
    file each via the same tmp-write + dir-swap commit as delete;
    cells at or under the threshold keep their exact files. Row
    content is untouched (pytest-pinned identity), only layout
    changes — probe latency recovers because a pruned scan opens
    O(probed cells) files again instead of O(batches x cells).

    Returns the compacted cell ids. At 100 TB the same body runs as
    a transactional REWRITE (Iceberg rewrite_data_files / Delta
    OPTIMIZE); file-count-per-partition is the trigger either way.
    """
    from mapreduce_inverted_index_spark.operators.store import (
        rewrite_partitions,
    )

    def plan(cells: DataFrame, manifest: dict):
        affected = sorted(
            int(cell)
            for cell, files in manifest["parts"].items()
            if len(files) > max_files_per_cell
        )
        if not affected:
            return [], None
        # hash-repartition on cell: each cell's rows land in ONE task
        # (possibly shared with other cells that hash to the same
        # task, leaving some tasks empty), and partitionBy then
        # splits a task's output per cell value — so every rewritten
        # cell dir gets exactly one file regardless of collisions; no
        # global coalesce. If true per-cell rewrite parallelism ever
        # matters, salt the repartition key — the one-file-per-cell
        # outcome is partitionBy's, not the hash layout's.
        packed = (
            cells.where(F.col("cell").isin(affected))
            .repartition(len(affected), "cell")
            .sortWithinPartitions("vec_id")
        )
        return affected, packed

    return rewrite_partitions(spark, path, "cell", plan)


def ivf_pruned_scan_topk(
    spark,
    path: str,
    cents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k over the :func:`write_ivf_cells` artifact: pick each
    query's ``n_probe`` nearest cells, then scan ONLY those cell
    partitions.

    The probe-cell set is collected to the driver to become a scan
    literal — deliberately: it is query metadata (≤ Q × n_probe
    ints, like the term list of a term lookup), not data, and only a
    literal predicate reaches the file index as a partition filter.
    Output shape matches the other ANN tiers.

    The scan opens one committed snapshot through the store's reader
    manifest (``store.open_snapshot``): a probe concurrent with a
    maintenance swap converges or fails loud, never reads a mixed
    listing, and a store with no manifest is refused.
    """
    from mapreduce_inverted_index_spark.operators.store import (
        open_snapshot,
    )

    pw = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "query_vec",
            "cell",
            cosine_similarity("query_vec", "centroid").alias("cos_c"),
        )
        .withColumn("pr", F.row_number().over(pw))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "query_vec", "cell")
    )
    cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    snap, _ = open_snapshot(spark, path, "cell")
    scanned = snap.where(F.col("cell").isin(cells))
    scored = (
        scanned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def quantize_embeddings(
    embeddings: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector scale =
    max(|v_i|)/127, codes = floor(v_i/scale + 0.5) ∈ [-127, 127].
    ~4× memory/IO reduction for an ANN candidate store — at 100 TB
    the quantized table is what the probe scans; exact re-ranking on
    the float vectors touches only the shortlist.

    floor(x + 0.5) instead of round(): Spark and DuckDB disagree on
    double round() tie-breaking, floor arithmetic is bit-identical.
    Zero vectors keep scale 0 and all-zero codes (dequantize maps
    them back to zeros). Output: ``(vec_id, *extra_cols, scale,
    qvec ARRAY<INT>)``.
    """
    v = F.col("embedding")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / 127.0
    qvec = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.floor(x.cast("double") / scale + 0.5).cast("int")
        )
    )
    return embeddings.select(
        F.col("vec_id").alias("vec_id"),
        *extra_cols,
        scale.alias("scale"),
        qvec.alias("qvec"),
    )


def dequantize(qvec: F.Column | str, scale: F.Column | str) -> F.Column:
    """Reconstruct ARRAY<DOUBLE> from int8 codes + per-vector scale."""
    q = F.col(qvec) if isinstance(qvec, str) else qvec
    s = F.col(scale) if isinstance(scale, str) else scale
    return F.transform(q, lambda x: x.cast("double") * s)


def quantized_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 32,
) -> DataFrame:
    """Two-stage ANN: score candidates on the int8-QUANTIZED vectors
    (the 4×-smaller store a 100 TB probe actually scans — see
    :func:`quantize_embeddings`), keep each query's top ``m``
    shortlist, then exact-re-rank the shortlist on the float vectors
    and return the top ``k``.

    The quantized stage is deterministic integer math (codes are
    ``floor(x/scale + 0.5)``, bit-identical cross-engine), so unlike
    the IVF/LSH tiers this tier's ENTIRE two-stage ranking is
    value-exact replayable in SQL — the catalog oracle re-runs both
    stages, no recall contract needed. Stage-2 IO is only the
    shortlist join back to the float table (Q × m rows, broadcast);
    at production the quantized table is a materialized sibling of
    the float table (same ids), exactly like the IVF cell store.

    Output matches the other ANN tiers: ``query_id, vec_id, cos_sim
    (exact), rank``; self-matches excluded, rounded-cosine + id
    tiebreaks at both stages.
    """
    qt = quantize_embeddings(embeddings)
    cand = qt.select(
        "vec_id", dequantize("qvec", "scale").alias("deq")
    )
    coarse = (
        cand.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "deq"), 6).alias("cos_q"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("vec_id"))
    shortlist = (
        coarse.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= m)
        .select("query_id", "vec_id")
    )
    exact = (
        embeddings.select(
            F.col("vec_id").alias("vec_id"), F.col("embedding").alias("vec")
        )
        .join(F.broadcast(shortlist), "vec_id")
        .join(
            F.broadcast(queries.select("query_id", "query_vec")), "query_id"
        )
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid components, computed order-independently.

    ``posexplode`` → quantize each component to DECIMAL(18,6) → one
    ``groupBy(label, dim)`` with an exact decimal sum — the float
    summation order never matters, so the result is deterministic
    under any partitioning/retry and bit-identical cross-engine. The
    centroid itself is two IEEE ops on exact inputs (cast + divide),
    then re-quantized so downstream centroid algebra (cosines) stays
    exact too.

    Scale shape: one narrow explode (rows × dim) into one partial-agg
    shuffle keyed (label, dim) — labels × dim output rows. This is
    the building block for semantic-class audits (which clusters are
    close?) and for seeding IVF-style codebooks from labeled data.
    Output: ``label, dim, c DECIMAL(18,9)`` (centroid component).
    """
    comp = embeddings.select(
        F.col("label").alias("label"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)").alias("w"),
    )
    return comp.groupBy("label", "dim").agg(
        F.round(F.sum("w").cast("double") / F.count("*"), 9)
        .cast("decimal(18,9)")
        .alias("c")
    )


def label_centroid_cosines(embeddings: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the
    class-confusability matrix of a labeled embedding corpus.

    Joins the (label, dim, c) centroid table to itself on dim
    (labels² × dim intermediate — labels are few by construction) and
    folds exact decimal products, so the output is engine-exact like
    the centroids themselves. Output: ``label_a, label_b, cosine``
    (label_a < label_b).
    """
    cent = label_centroids(embeddings)
    a = cent.select(
        "dim", F.col("label").alias("label_a"), F.col("c").alias("ca")
    )
    b = cent.select(
        "dim", F.col("label").alias("label_b"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("nrm")
    )
    cos = F.round(
        F.col("dot").cast("double") / (F.col("na.nrm") * F.col("nb.nrm")), 6
    )
    return (
        dots.join(norms.alias("na"), F.col("label_a") == F.col("na.label"))
        .join(norms.alias("nb"), F.col("label_b") == F.col("nb.label"))
        .select("label_a", "label_b", cos.alias("cosine"))
    )


def hard_negatives(
    embeddings: DataFrame,
    anchors: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the ``k`` most-cosine-similar corpus vectors with a
    DIFFERENT label — the near-the-boundary negatives that teach a
    contrastive model the most (random negatives, cf.
    ``curation.contrastive_negatives``, are cheap but mostly easy).

    ``anchors`` is ``(query_id, query_vec, query_label)`` and is
    broadcast; the corpus side never shuffles for the scoring join.
    This is the EXACT form (one scan of the corpus per anchor batch
    — the same role ``brute_force_topk`` plays for ANN); at corpus
    scale, generate candidates with the IVF cell layout instead
    (``ivf_multi_assign`` / ``ivf_pruned_scan_topk``: probe the
    anchor's nearest cells, then apply this exact scoring to the
    pruned candidate set — recall governed by the measured IVF
    contract). Output: ``query_id, vec_id, cos_sim, rank`` with the
    deterministic (rounded-cosine, id) tiebreak.
    """
    cand = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("vec"),
        F.col("label").alias("_lbl"),
    )
    scored = (
        cand.crossJoin(F.broadcast(anchors))
        .where(F.col("_lbl") != F.col("query_label"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def hard_negatives_ivf(
    spark,
    path: str,
    cents: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """Hard-negative mining over the IVF cell layout — the
    corpus-scale candidate path :func:`hard_negatives`'s docstring
    promises: instead of scoring every corpus vector per anchor, probe
    each anchor's ``n_probe`` nearest cells from the
    :func:`write_ivf_cells` artifact (built with
    ``ivf_assign(..., extra_cols=(label,))`` so the label rides in
    the cell store), drop same-label candidates at the scan, and
    exact-score only the pruned shortlist.

    The probed cell set is collected to a scan literal (it is query
    metadata — ≤ anchors × n_probe ints — not data), so the filter
    reaches the file index as a ``PartitionFilters`` entry
    (audit-asserted): candidate IO, not just candidate compute, is
    n_probe/n_cells of the corpus. Each stored vector lives in
    exactly one cell, so no dedup step is needed.

    Output matches :func:`hard_negatives` (``query_id, vec_id,
    cos_sim, rank``); recall vs the exact form is governed by the
    measured IVF contract (hard_negatives_ivf_contract).
    """
    from mapreduce_inverted_index_spark.operators.store import (
        open_snapshot,
    )

    pw = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cell"))
    probes = (
        anchors.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "query_vec",
            "query_label",
            "cell",
            cosine_similarity("query_vec", "centroid").alias("cos_c"),
        )
        .withColumn("pr", F.row_number().over(pw))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "query_vec", "query_label", "cell")
        # cache: the probe table is read twice (cell-literal derivation
        # below + the scored join) — without this the crossJoin+window
        # subplan executes twice per call
        .localCheckpoint(eager=True)
    )
    cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    snap, _ = open_snapshot(spark, path, "cell")
    scanned = snap.where(F.col("cell").isin(cells))
    scored = (
        scanned.join(F.broadcast(probes), "cell")
        .where(F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("query_vec", "vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def gram_matrix(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Distributed uncentered Gram matrix G = Σ_v q(v) q(v)^T over an
    embedding column — the one-pass reduction under PCA/whitening/
    covariance (center and eigendecompose the d x d result driver-
    side; d² is tiny even when N is 100 TB).

    Plan shape is the whole point: each ``mapInPandas`` batch stacks
    its vectors and emits ONE d x d partial via an integer matmul, so
    the shuffle carries O(partitions x d²) cells, never the
    O(N x d²) rows an explode + self-join + groupBy would (the
    naive relational phrasing shuffles every pairwise component
    product — unusable at scale).

    Exactness across engines: components quantize to fixed-point
    ``floor(x * 10^6 + 0.5)`` int64 BEFORE any product (explicit
    round-half-up — numpy's round() is half-to-even, SQL ROUND is
    half-away; floor(+0.5) sidesteps both), and int64 sums are
    order-independent, so a SQL oracle phrased as the naive unnest
    self-join reproduces the distributed result bit-for-bit.

    Output: ``i, j, gram`` for the upper triangle (i <= j), gram in
    units of 10^-12.
    """
    import numpy as np
    import pandas as pd

    # probe d from the schema-registered fixture contract at plan
    # build: first batch defines it; emitting (i, j) longs keeps the
    # schema d-agnostic.
    # int64 overflow guard: numpy wraps SILENTLY past 2^63, so (a)
    # each BATCH matmul is sliced so |cell| <= rows * (max|q|)^2 stays
    # under the budget — a single 10k-row Arrow batch of |x|~100
    # vectors at the 1e6 scale would wrap inside one q.T @ q otherwise —
    # and (b) the ACCUMULATOR flushes a partial whenever its largest
    # |cell| could no longer absorb the next slice (budget = 2^62;
    # bounds computed from the actual batch values in Python ints,
    # which never wrap, not an assumed |x| <= 1). The final
    # cross-partial sum runs in DECIMAL(38,0) — exact far past 2^63 —
    # and only casts back to long for the output contract.
    _BUDGET = 1 << 62
    _SCALE = 1_000_000  # fixed-point units per 1.0

    def partial_grams(batches):
        acc = None
        dim = None

        def _flush():
            iu, ju = np.triu_indices(dim)
            return pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32),
                 "gram": acc[iu, ju]}
            )

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(mat * _SCALE + 0.5).astype(np.int64)
            m = int(np.abs(q).max())  # Python int: cannot wrap
            per_row = m * m  # max one-row contribution to one cell
            if per_row > _BUDGET:
                raise ValueError(
                    f"gram_matrix: a single row's cell contribution "
                    f"({per_row}) exceeds the int64 budget at fixed-point "
                    f"scale {_SCALE} (|x| up to {m / _SCALE})"
                )
            rows_per_slice = (
                len(q) if per_row == 0 else max(1, _BUDGET // per_row)
            )
            for lo in range(0, len(q), rows_per_slice):
                qs = q[lo : lo + rows_per_slice]
                g = qs.T @ qs  # |cell| <= rows_per_slice*per_row <= 2^62
                dim = g.shape[0]
                if acc is not None and (
                    int(np.abs(acc).max()) + int(np.abs(g).max()) > _BUDGET
                ):
                    yield _flush()
                    acc = None
                acc = g if acc is None else acc + g
        if acc is not None:
            yield _flush()

    partials = emb.select(vec_col).mapInPandas(
        partial_grams, schema="i int, j int, gram long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("gram").cast("decimal(38,0)")).cast("bigint").alias("gram")
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-``k``
    principal components — dimensionality reduction before ANN /
    clustering, computed the only way that scales: the data never
    leaves the executors; the driver sees ONE d x d Gram partial sum,
    one d-vector of column sums, and one count (the sufficient
    statistics of covariance), eigendecomposes the d x d covariance
    locally (microseconds for embedding-sized d), and broadcasts the
    d x k component matrix back for a vectorized projection pass.

    Both distributed passes are mapInPandas partial reductions
    (O(partitions x d^2) shuffle cells, like :func:`gram_matrix`);
    the projection is one Arrow-batched matmul per batch. Float64
    accumulation here (not fixed-point): PCA's contract is spectral,
    not bit-exact, and is verified by mathematical identities —
    orthonormal components, and mean reconstruction error equal to
    the sum of dropped eigenvalues (checked in the catalog's
    contract query and tests).

    Output: ``vec_id, proj ARRAY<DOUBLE>`` (length k). Eigenvector
    sign is fixed by forcing each component's largest-|coordinate|
    entry positive, so results are deterministic across runs.
    """
    import numpy as np
    import pandas as pd

    def stats(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += mat.shape[0]
            s = mat.sum(0) if s is None else s + mat.sum(0)
            gg = mat.T @ mat
            g = gg if g is None else g + gg
        if n:
            d = len(s)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(d), [-1]]).astype("int32"),
                    "j": np.concatenate([ju, np.full(d, -1), [-1]]).astype("int32"),
                    "v": np.concatenate([g[iu, ju], s, [float(n)]]),
                }
            )

    agg = (
        emb.select("embedding")
        .mapInPandas(stats, schema="i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()  # O(d^2) rows — the sufficient statistics, never data
    )
    n = next(r.v for r in agg if r.i == -1)
    d = max(r.i for r in agg) + 1
    mu = np.zeros(d)
    G = np.zeros((d, d))
    for r in agg:
        if r.i == -1:
            continue
        if r.j == -1:
            mu[r.i] = r.v / n
        else:
            G[r.i, r.j] = G[r.j, r.i] = r.v
    cov = G / n - np.outer(mu, mu)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = V[:, order]  # d x k
    # deterministic sign: largest-|coordinate| entry positive
    flips = np.sign(comps[np.abs(comps).argmax(0), np.arange(comps.shape[1])])
    comps = comps * flips
    comps_b = emb.sparkSession.sparkContext.broadcast((mu, comps))

    def project(batches):
        m, c = comps_b.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            y = (mat - m) @ c
            yield pd.DataFrame({"_pid": pdf["vec_id"], "proj": list(y)})

    # id schema follows the input column's type (string keys, int32
    # ids, ...) so the Arrow pass never casts through long
    id_type = emb.schema["vec_id"].dataType.simpleString()
    out = emb.select("vec_id", "embedding").mapInPandas(
        project, schema=f"_pid {id_type}, proj array<double>"
    )
    return out.withColumnRenamed("_pid", "vec_id")


def semantic_incremental_dedup(
    new_embeddings: DataFrame,
    base_cells: DataFrame,
    cents: DataFrame,
    tau: float = 0.4,
    r: int = 3,
    broadcast_max_rows: int = 100_000,
) -> DataFrame:
    """Semantic near-dup matches of a NEW embedding batch against a
    STORED cell-tagged corpus — the embedding-space twin of
    ``dedup.minhash_incremental_dedup``: the corpus's IVF state
    (:func:`write_ivf_cells` artifact + its codebook) is written
    once; each incoming batch is multi-assigned to its ``r`` nearest
    cells against the SAME codebook and joined to the stored cells on
    the cell key — batch × (probed cells' members), never
    batch × corpus — with exact cosine verification of candidates
    only.

    When the batch side is broadcast-sized and ``cell`` is the
    storage partition column, Catalyst's dynamic partition pruning
    applies: the stored-corpus scan reads only the batch's probed
    cell directories. Candidate IO — not just candidate compute — is
    r/n_cells of the corpus per batch.

    The batch is probed with a BOUNDED ``limit(n+1).count()`` (the
    :func:`skew.choose_join_route` discipline) and only
    broadcast-hinted when it is at most ``broadcast_max_rows`` ids —
    an oversized batch (a backfill replay, a day-one bulk load) falls
    back to a plain shuffle join on ``cell`` instead of failing the
    broadcast build. Result rows are identical on both routes.

    Output: ``new_id, dup_of, cos_sim`` (distinct), every stored
    vector the new one shares a probed cell with at
    ``cosine >= tau``. Recall < 1 by construction (cell-boundary
    pairs straddling all r cells are missed) — the catalog carries a
    measured-recall contract against the brute-force anchor, same
    pattern as ``semantic_dedup_contract``.
    """
    multi = ivf_multi_assign(new_embeddings, cents, r)
    a = multi.select(
        "cell", F.col("vec_id").alias("new_id"), F.col("vec").alias("va")
    )
    b = base_cells.select(
        "cell", F.col("vec_id").alias("dup_of"), F.col("vec").alias("vb")
    )
    # bounded probe on the PRE-multi-assign batch (r× smaller)
    probe = new_embeddings.limit(
        broadcast_max_rows + 1
    ).count()
    left = F.broadcast(a) if probe <= broadcast_max_rows else a
    return (
        left.join(b, "cell")
        .select(
            "new_id",
            "dup_of",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= tau)
        .distinct()
    )
