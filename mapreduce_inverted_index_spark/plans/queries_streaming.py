"""Streaming query catalog (SURVEY.md §7.3.5).

These run REAL Structured Streaming queries (readStream → watermark →
windowed agg → AvailableNow → memory sink) and return the sink. With
a single AvailableNow batch no data is late, so the results equal the
batch computation — which makes tumbling/sliding/session windows
fully oracle-checkable in DuckDB (sessionization via gaps-and-islands
SQL). That is a stronger check than the rows-only default for
streaming ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.text import sql_terms, sql_tokens
from mapreduce_inverted_index_spark.plans.registry import register, work_root
from mapreduce_inverted_index_spark.streaming import windows as W

_SQL_SUM_VALUE = (
    "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)"
)


@register(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           {_SQL_SUM_VALUE} AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="Structured Streaming 1h tumbling windows (watermark + window "
        "agg, AvailableNow); oracle = batch hour-truncated groupBy.",
)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling_counts(spark, sf_dir)


@register(
    "stream_sliding_avg",
    oracle=f"""
    SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS window_start,
           event_type,
           {_SQL_SUM_VALUE} / COUNT(value) AS avg_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    GROUP BY 1, 2
    """,
    doc="2h windows sliding 1h: every event lands in exactly two "
        "windows; oracle replicates each row into both.",
)
def q_stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_avg_value(spark, sf_dir)


@register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="session_window(30m) sessionization; oracle = gaps-and-"
        "islands SQL (lag -> island id -> group).",
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session_windows(spark, sf_dir)


@register(
    "stream_attribution_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Watermarked stream-stream interval join (click -> same-user "
        "purchase within 1h); single AvailableNow batch makes it "
        "equal to the batch interval join, so it is value-checkable.",
)
def q_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.stream_attribution_join(spark, sf_dir)


@register(
    "stream_enriched_segment_counts",
    oracle=f"""
    SELECT e.event_type,
           c.c_mktsegment,
           count(*) AS n_events,
           {_SQL_SUM_VALUE} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment join (events stream x broadcast "
        "customer dim) + running per-(type, segment) aggregate; the "
        "dim is re-read per micro-batch, only the aggregate is "
        "stateful.",
)
def q_stream_enriched_segment_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return W.stream_enriched_segment_counts(spark, sf_dir)


@register(
    "stream_attribution_join_outer",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT max(ts) FROM clicks),
                   (SELECT max(ts) FROM purchases))
             - INTERVAL 2 HOUR AS w)
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM clicks c
    LEFT JOIN purchases p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE p.event_id IS NOT NULL
       OR c.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
    doc="LEFT OUTER stream-stream interval join: matched clicks emit "
        "per purchase; unmatched clicks emit once with NULL purchase "
        "after the watermark passes their join window (state "
        "eviction). The oracle encodes the exact emission rule: NULL "
        "rows only for clicks whose window closed under the final "
        "two-source min-policy watermark — verified equal row-for-row.",
)
def q_stream_attribution_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.stream_attribution_join_outer(spark, sf_dir)


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="dropDuplicatesWithinWatermark on (user_id, event_type): "
        "bounded-state streaming dedup (state evicts delay after "
        "first sight, unlike dropDuplicates' forever-state). Keys "
        "only — the surviving row per key is nondeterministic.",
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.stream_dedup_within_watermark(spark, sf_dir)


@register(
    "stream_dedup_events",
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_unique_events
    FROM events GROUP BY event_type
    """,
    doc="Streaming dropDuplicates(event_id) within the watermark "
        "horizon + per-type counts.",
)
def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.stream_dedup_events(spark, sf_dir)


@register(
    "stream_stateful_user_peaks",
    oracle="""
    SELECT user_id,
           max(value) AS peak_value,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful operator via applyInPandasWithState: "
        "per-user running (max, count) state across micro-batches; "
        "single AvailableNow batch => snapshot equals batch agg.",
)
def q_stream_stateful_user_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.streaming.stateful import stateful_user_peaks

    return stateful_user_peaks(spark, sf_dir)


@register(
    "stream_frequent_terms",
    oracle=f"""
    WITH toks AS (SELECT unnest({sql_terms('text', distinct=False)}) AS term
                  FROM documents),
         total AS (SELECT count(*) AS n FROM toks)
    SELECT term, count(*) AS n_occ
    FROM toks CROSS JOIN total
    GROUP BY term, total.n
    HAVING count(*) >= ceil(total.n * 0.01)
    """,
    doc="Stream-maintained phi-heavy-hitter terms: each micro-batch "
        "folds its exact term counts into a bounded Misra-Gries "
        "summary (k=200 rows of state, foreachBatch, associative "
        "merge - the unbounded-input analog of frequent_items' "
        "phase 1), then the exact verify recounts candidates "
        "against the canonical table. Candidates are a guaranteed "
        "superset at every point in the stream, so the result "
        "equals batch GROUP BY HAVING exactly; a multi-pass pytest "
        "proves the incremental path.",
)
def q_stream_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from mapreduce_inverted_index_spark.streaming.sketches import (
        maintain_frequent_terms_available_now,
        verified_heavy_terms,
    )

    work = tempfile.mkdtemp(prefix="mii_stream_mg_", dir=work_root())
    maintain_frequent_terms_available_now(
        spark, sf_dir, f"{work}/state", f"{work}/ckpt", k=200
    )
    return verified_heavy_terms(spark, sf_dir, f"{work}/state", phi=0.01)


@register(
    "stream_chunk_ingest",
    oracle="""
    SELECT doc_id,
           CAST((pos - 1) // 48 AS INTEGER) AS chunk_no,
           CAST(pos AS INTEGER) AS start_tok,
           CAST(len(toks[pos:pos+63]) AS INTEGER) AS n_tokens,
           md5(array_to_string(toks[pos:pos+63], ' ')) AS chunk_hash
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 48)) AS pos
          FROM (SELECT doc_id, __TOKS__ AS toks FROM documents)
          WHERE len(toks) > 0)
    """.replace("__TOKS__", sql_tokens("text")),
    doc="Incremental RAG-chunk ingest: an AvailableNow file-stream "
        "pass chunks exactly the newly-arrived document files and "
        "APPENDS to the chunk table (exactly-once per file via the "
        "checkpoint; stable (doc_id, chunk_no) identity makes the "
        "append idempotent at the file level). No merge step, no "
        "state — the cheap tier of incremental maintenance; per-pass "
        "cost is O(new docs). Oracle = batch chunking of the whole "
        "corpus, which the sink must equal after any pass history.",
)
def q_stream_chunk_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_chunks_available_now,
    )

    work = tempfile.mkdtemp(prefix="mii_stream_chunks_", dir=work_root())
    maintain_chunks_available_now(
        spark, sf_dir, f"{work}/chunks", f"{work}/ckpt"
    )
    return spark.read.parquet(f"{work}/chunks")


@register(
    "semantic_stream_maintenance",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_state_vectors,
           TRUE AS state_matches_batch_rebuild,
           TRUE AS all_dups_real,
           TRUE AS dups_nonempty
    FROM embeddings
    """,
    doc="Stream-maintained semantic-dedup state: two AvailableNow "
        "maintenance passes over a landing directory (even vec_ids "
        "arrive first, odd second — exactly-once per file via the "
        "checkpoint cursor), each pass deduping its batch against "
        "the STORED IVF cells (batch x probed cells with the frozen "
        "first-batch codebook) and appending the batch to the "
        "partitionBy(cell) state. Contract columns, all "
        "Spark-verified: the final state equals a batch ivf_assign "
        "of every ingested vector under the stored codebook "
        "(count exact in the oracle), every logged dup is a real "
        "cosine>=tau pair against the full table (precision 1.0), "
        "and pass 2 found matches (the split guarantees cross-batch "
        "near-pairs at this tau). Operator: "
        "streaming.ingest.maintain_semantic_cells_available_now.",
    scale_class="contract",
)
def q_semantic_stream_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from mapreduce_inverted_index_spark.functions.vectors import (
        cosine_similarity,
    )
    from mapreduce_inverted_index_spark.operators import store
    from mapreduce_inverted_index_spark.operators.similarity import ivf_assign
    from mapreduce_inverted_index_spark.sources.tables import load_table
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_semantic_cells_available_now,
    )

    work = tempfile.mkdtemp(prefix="mii_sem_stream_", dir=work_root())
    land, state, ckpt = f"{work}/landing", f"{work}/state", f"{work}/ckpt"
    emb = load_table(spark, sf_dir, "embeddings")
    tau, r = 0.4, 6

    emb.where(F.col("vec_id") % 2 == 0).coalesce(2).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(spark, land, state, ckpt, tau=tau, r=r)
    emb.where(F.col("vec_id") % 2 == 1).coalesce(2).write.mode(
        "append"
    ).parquet(land)
    maintain_semantic_cells_available_now(spark, land, state, ckpt, tau=tau, r=r)

    cents = store.open_snapshot(spark, f"{state}/cents", "part")[0]
    cells = store.open_snapshot(spark, f"{state}/cells", "cell")[0].select(
        "vec_id", "cell"
    )
    dups = store.open_snapshot(spark, f"{state}/dups", "batch")[0]
    rebuilt = ivf_assign(emb, cents).select("vec_id", "cell")
    sym_diff = cells.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(cells))
    bad_dups = (
        dups.join(
            emb.select(
                F.col("vec_id").alias("new_id"),
                F.col("embedding").alias("_va"),
            ),
            "new_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("dup_of"),
                F.col("embedding").alias("_vb"),
            ),
            "dup_of",
        )
        .where(F.round(cosine_similarity("_va", "_vb"), 6) < tau)
    )
    return (
        cells.agg(F.count("*").cast("bigint").alias("n_state_vectors"))
        .crossJoin(
            sym_diff.agg(
                (F.count("*") == 0).alias("state_matches_batch_rebuild")
            )
        )
        .crossJoin(bad_dups.agg((F.count("*") == 0).alias("all_dups_real")))
        .crossJoin(dups.agg((F.count("*") > 0).alias("dups_nonempty")))
    )


@register(
    "stream_transition_matrix",
    oracle="""
    WITH seq AS (SELECT user_id, event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS prev
                 FROM events),
         pairs AS (SELECT prev AS from_state, event_type AS to_state,
                          CAST(count(*) AS BIGINT) AS n_trans
                   FROM seq WHERE prev IS NOT NULL
                   GROUP BY 1, 2)
    SELECT from_state, to_state, n_trans,
           ROUND(CAST(n_trans AS DOUBLE)
                 / CAST(sum(n_trans) OVER (PARTITION BY from_state)
                        AS DOUBLE), 6) AS p
    FROM pairs
    """,
    doc="Streaming twin of event_transition_matrix: per-user last "
        "event_type held as applyInPandasWithState state, so the "
        "transition spanning a micro-batch boundary is emitted "
        "(a stateless per-batch lag drops it); observations "
        "accumulate in the sink and roll up to the row-stochastic "
        "matrix in batch. AvailableNow single batch == batch lag -> "
        "full value oracle; the boundary case is pytest-proven "
        "with a chunked feed.",
)
def q_stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mapreduce_inverted_index_spark.streaming.stateful import (
        stateful_transition_counts,
    )

    pairs = stateful_transition_counts(spark, sf_dir)
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").alias("n_trans")
    )
    w_row = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(w_row).cast("double"),
            6,
        ).alias("p"),
    )


@register(
    "stream_takedown_queue",
    oracle="""
    WITH pairs AS (
      SELECT doc_id, unnest(__TERMS__) AS term FROM documents),
    dead AS (
      SELECT doc_id FROM documents WHERE doc_id % 10 = 0
      ORDER BY doc_id LIMIT 64)
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs WHERE doc_id NOT IN (SELECT doc_id FROM dead)
    GROUP BY term
    """.replace("__TERMS__", sql_terms("text", distinct=True)),
    doc="The DELETE side of stream maintenance: a takedown queue "
        "(GDPR erasure / opt-outs) as a checkpointed file stream — "
        "two AvailableNow passes fold id batches into the stored "
        "BUCKETED index store (write_index_store layout) via "
        "delete_from_index_store: each pass locates the term-hash "
        "bucket partitions whose postings contain the batch's ids and "
        "rewrites ONLY those, each row filtered in place (crash-safe "
        "per-dir swap; untouched bucket dirs keep their exact files, "
        "pytest-pinned), exactly-once per file. A doc's terms reach "
        "most buckets, so this skips buckets only for very short docs "
        "or many buckets. The "
        "second pass replays half the first batch (takedown queues "
        "are idempotent by nature) plus a never-ingested id (a no-op "
        "fold). Oracle = build_index of the surviving corpus, so a "
        "green row proves the stream-maintained store equals a batch "
        "rebuild minus every erased id. Operator: "
        "streaming.ingest.maintain_takedowns_available_now.",
)
def q_stream_takedown_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from mapreduce_inverted_index_spark.operators.inverted_index import (
        build_index,
        write_index_store,
    )
    from mapreduce_inverted_index_spark.sources.tables import load_table
    from mapreduce_inverted_index_spark.streaming.ingest import (
        maintain_takedowns_available_now,
    )

    work = tempfile.mkdtemp(prefix="mii_takedown_", dir=work_root())
    index_dir, queue, ckpt = f"{work}/index", f"{work}/queue", f"{work}/ckpt"
    docs = load_table(spark, sf_dir, "documents")
    write_index_store(build_index(docs), index_dir)
    dead = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(64)
    )
    # pass 1: the first half of the batch; pass 2: the WHOLE batch
    # (overlap proves idempotence) plus a never-ingested ghost id
    dead.limit(32).coalesce(1).write.mode("append").parquet(queue)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    dead.union(
        spark.createDataFrame([(10**12,)], "doc_id bigint")
    ).coalesce(1).write.mode("append").parquet(queue)
    maintain_takedowns_available_now(spark, queue, index_dir, ckpt)
    out = (
        spark.read.parquet(index_dir)
        .select(
            "term",
            F.array_join("postings", ",").alias("postings_csv"),
            "df",
        )  # bucket partition col dropped by the select — layout, not content
        # pin the (small) result in executor blocks so the per-call
        # work dir can be removed — the scaling probe runs this query
        # 7x per sweep and mkdtemp trees would otherwise pile up
        .localCheckpoint(eager=True)
    )
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    return out
