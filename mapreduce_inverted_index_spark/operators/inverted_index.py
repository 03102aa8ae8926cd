"""The inverted-index pipeline — the reference's entire data plane as
one lazy DataFrame expression (SURVEY.md §7.2).

Reference lifecycle collapsed here (SURVEY.md §3.1 steps 3-11):
  * map phase   ``mapper/src/processor.py:173-199`` → ``doc_terms``
  * map-side combine ``mapper/src/processor.py:80-134`` → automatic
    partial aggregation inside ``groupBy('term')``
  * reduce merge/sort/dedup ``reducer/src/processor.py:15-88`` →
    ``sort_array(collect_set(...))``

Scale notes (100 TB posture):
  * ``doc_terms`` is a narrow map stage — no shuffle until the
    ``groupBy('term')``, whose map-side partial ``collect_set`` plays
    the reference's "shuffle_intermediate_results" combiner role but
    per-partition and spillable.
  * term is a naturally high-cardinality, Zipf-skewed key; AQE skew
    handling plus the per-doc distinct (which caps any (term,doc)
    pair at 1) keep reducer partitions bounded by distinct-doc counts.
  * the final index is a DataFrame, not a single JSON dict — persist
    it as the term-hash-bucketed store (``write_index_store``) or the
    ``bucketBy(term)`` tables (``write_index_tables``) so term lookups
    become partition/bucket-pruned scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.stopwords import (
    stopwords_spark_in_list,
)
from mapreduce_inverted_index_spark.functions.text import terms, tokenize

# The stopword predicate as ONE SQL string parsed JVM-side (r14: the
# Column form `~col("term").isin(*STOPWORDS)` marshalled 179 py4j
# round-trips per doc_terms/doc_term_freq call — the same
# plan-construction tax r13 removed from terms(); identical expression
# tree, Catalyst still folds it to the codegen'd InSet).
_NOT_STOP_SQL = "term NOT IN (" + stopwords_spark_in_list() + ")"

__all__ = [
    "doc_terms",
    "doc_term_freq",
    "build_index",
    "index_stats",
    "doc_freq",
    "write_index_tables",
    "write_doc_tables",
    "merge_index",
    "gap_encode_col",
    "gap_decode_col",
    "gap_encode_index",
    "gap_decode_postings",
    "delete_from_index",
    "index_bucket_col",
    "term_bucket",
    "write_index_store",
    "read_index_store",
    "delete_from_index_store",
    "merge_into_index_store",
    "term_lookup_store",
]


def doc_terms(docs: DataFrame) -> DataFrame:
    """Map phase: one row per (doc_id, term), terms distinct per doc.

    Equivalent of the reference's ``map_terms_to_documents``
    (``mapper/src/processor.py:173-199``): P1-P5 then emit (P6). The
    per-doc ``array_distinct`` happens *before* explode so the row
    expansion (and later shuffle) carries no duplicate pairs; the
    stopword filter runs *after* explode as a relational predicate —
    Catalyst converts the 179-string IN to a codegen'd hash-set
    InSet, which benched 4.6x faster than filtering inside the array
    (array_except with a literal array is per-row interpreted work).
    """
    return docs.select(
        F.col("doc_id").alias("doc_id"),
        F.explode(F.array_distinct(tokenize("text"))).alias("term"),
    ).where(F.expr(_NOT_STOP_SQL))


def doc_term_freq(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) with in-document duplicates counted — the
    term-frequency variant of :func:`doc_terms` (same explode-then-
    InSet shape).
    """
    return (
        docs.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(tokenize("text")).alias("term"),
        )
        .where(F.expr(_NOT_STOP_SQL))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def build_index(docs: DataFrame) -> DataFrame:
    """The flagship query: documents → inverted index.

    Output: ``term STRING, postings ARRAY<BIGINT> (sorted, distinct),
    df BIGINT``. ``collect_set`` + ``sort_array`` reproduce the
    reducer's merge → sort-by-doc_id → dedup-first-wins
    (``reducer/src/processor.py:36-77``; first-wins == set semantics
    here because the payload is just doc_id — SURVEY.md §7.4).
    """
    pairs = doc_terms(docs)
    return pairs.groupBy("term").agg(
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
        F.count("*").alias("df"),
    )


def doc_freq(docs: DataFrame) -> DataFrame:
    """Document frequency per term (no postings payload).

    The array-free aggregate — at 100 TB you compute stats like this
    without materializing postings at all; Catalyst plans a partial
    count per partition, so shuffle volume is O(distinct terms).
    """
    return (
        doc_terms(docs)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def index_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level counters — the reference's metadata block
    (``mapper/src/processor.py:62,121``, ``reducer/src/processor.py:103``)
    as one aggregate row: total postings, distinct terms, documents.
    """
    pairs = doc_terms(docs)
    return pairs.agg(
        F.count("*").alias("num_postings"),
        F.countDistinct("term").alias("num_terms"),
        F.countDistinct("doc_id").alias("num_docs"),
    )


def write_index_tables(
    docs: DataFrame,
    path: str,
    *,
    buckets: int = 8,
    prefix: str = "mii",
) -> tuple[str, str]:
    """Materialize the BUCKETED index tier: the postings index and the
    (doc_id, term, tf) table, both ``bucketBy(buckets, term)`` +
    ``sortBy(term)`` — the 100 TB lookup story the reference's
    single-JSON index (``reducer/src/processor.py:90-113``) cannot
    tell. Equal bucket counts on the term key mean every term-keyed
    operation downstream — lookup joins, tf rollups, bm25's qtf/df,
    phrase-index joins, index-index merges — reads pre-partitioned,
    pre-sorted buckets: zero Exchange, and equality predicates on
    ``term`` prune to a single bucket file per table.

    Returns the two table names ``(index_table, tf_table)``.
    """
    index_name = f"{prefix}_index_b{buckets}"
    tf_name = f"{prefix}_tf_b{buckets}"
    (build_index(docs)
        .write.mode("overwrite")
        .bucketBy(buckets, "term").sortBy("term")
        .option("path", f"{path}/index")
        .saveAsTable(index_name))
    (doc_term_freq(docs)
        .write.mode("overwrite")
        .bucketBy(buckets, "term").sortBy("term")
        .option("path", f"{path}/tf")
        .saveAsTable(tf_name))
    return index_name, tf_name


def write_doc_tables(
    docs: DataFrame,
    path: str,
    *,
    buckets: int = 16,
    prefix: str = "mii",
) -> tuple[str, str]:
    """Materialize the DOC-keyed co-located bucket tier — the
    doc_id-axis mirror of :func:`write_index_tables` (term axis) and
    the SMB fact pair (``queries_relational_tpch.py``'s orderkey
    axis): the per-(doc, term) frequency table and the per-doc
    length table, both ``bucketBy(buckets, doc_id)`` +
    ``sortBy(doc_id)``. Every doc-keyed pipeline downstream — BM25's
    tf x dl normalization, per-doc quality joins, funnel/retention
    user joins re-keyed on the doc axis — reads pre-partitioned,
    pre-sorted buckets and joins with ZERO pre-join Exchange
    (pytest-asserted). Both tables pay their doc_id shuffle ONCE at
    write time; at 100 TB that is the difference between re-shuffling
    the (doc, term) fact on every scoring run and never shuffling it
    again.

    Returns the two table names ``(tf_table, dlen_table)``.
    """
    tf_name = f"{prefix}_dtf_b{buckets}"
    dlen_name = f"{prefix}_dlen_b{buckets}"
    tf = doc_term_freq(docs)
    (tf.write.mode("overwrite")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .option("path", f"{path}/dtf")
        .saveAsTable(tf_name))
    # derive dlen from the just-WRITTEN tf table, not the logical tf
    # plan: the corpus is tokenized once, and the rollup runs
    # shuffle-free on the bucketed layout (doc_id groupBy satisfies
    # the bucket distribution)
    spark = docs.sparkSession
    dlen = spark.table(tf_name).groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    (dlen.write.mode("overwrite")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .option("path", f"{path}/dlen")
        .saveAsTable(dlen_name))
    return tf_name, dlen_name


def gap_encode_col(postings: F.Column) -> F.Column:
    """Gap-encoding expression: sorted ``[p0, p1, p2, ...]`` →
    ``[p0, p1-p0, p2-p1, ...]`` (``zip_with`` against the 1-shifted
    list — lambda touches only its bound arrays, so no CollapseProject
    re-inlining; see the word_shingles note, ``dedup.py:104``)."""
    prev = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.slice(postings, 1, F.greatest(F.size(postings) - 1, F.lit(0))),
    )
    return F.zip_with(postings, prev, lambda a, b: a - b)


def gap_decode_col(gaps: F.Column) -> F.Column:
    """Inverse expression: prefix-sum gaps back to absolute ids.
    ``aggregate`` folds left carrying (running total, rebuilt list) —
    linear per row, the sequential decode a real reader does per
    block."""
    return F.aggregate(
        gaps,
        F.struct(
            F.lit(0).cast("bigint").alias("acc"),
            F.array().cast("array<bigint>").alias("out"),
        ),
        lambda st, g: F.struct(
            (st.acc + g).alias("acc"),
            F.concat(st.out, F.array(st.acc + g)).alias("out"),
        ),
        lambda st: st.out,
    )


def gap_encode_index(index: DataFrame) -> DataFrame:
    """Delta/gap-encode the postings payload.

    This is the storage transform every real posting-list format
    (Lucene, PForDelta, varint blocks) starts from: sorted ids have
    huge absolute values but tiny deltas, so downstream varint/
    bit-packing compresses gaps 5-10x better than raw ids — at
    100 TB the index's dominant cost is postings bytes, and this is
    the knob. Pure per-row array math: a narrow map stage, no
    shuffle, fused into whatever wrote the index.

    Output: ``term, gaps ARRAY<BIGINT>, df`` (df preserved).
    """
    return index.select(
        "term", gap_encode_col(F.col("postings")).alias("gaps"), "df"
    )


def gap_decode_postings(encoded: DataFrame) -> DataFrame:
    """Inverse of :func:`gap_encode_index`.

    Output: ``term, postings ARRAY<BIGINT>, df``.
    """
    return encoded.select(
        "term", gap_decode_col(F.col("gaps")).alias("postings"), "df"
    )


def merge_index(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental index maintenance: merge a delta index (newly
    ingested docs) into a base index without touching base documents.

    The reference rebuilds its index from scratch per run; at 100 TB
    the index is maintained incrementally — index only the new docs,
    then full-outer-merge on term: postings = sorted distinct union,
    df recomputed from the merged postings. One shuffle on term (and
    none at all if both sides were written ``bucketBy(term)`` — see
    :func:`write_index_tables`). Invariant (test + oracle-checked):
    ``merge_index(build_index(old), build_index(new)) ==
    build_index(old ∪ new)`` when old/new partition the corpus.
    """
    empty = F.array().cast("array<bigint>")
    b = base.select("term", F.col("postings").alias("_pb"))
    d = delta.select("term", F.col("postings").alias("_pd"))
    merged = b.join(d, "term", "full_outer").select(
        "term",
        F.sort_array(
            F.array_distinct(
                F.concat(F.coalesce("_pb", empty), F.coalesce("_pd", empty))
            )
        ).alias("postings"),
    )
    return merged.select(
        "term", "postings", F.size("postings").cast("bigint").alias("df")
    )


INDEX_STORE_BUCKETS = 16


def index_bucket_col(term: "F.Column | str", n_buckets: int = INDEX_STORE_BUCKETS) -> F.Column:
    """Deterministic term-hash bucket id — the partition key of the
    maintained index STORE (:func:`write_index_store`). A pure
    expression of the term, so any writer/reader pair agrees on a
    term's bucket without coordination."""
    t = F.col(term) if isinstance(term, str) else term
    return F.pmod(F.xxhash64(t), F.lit(n_buckets)).cast("int")


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def term_bucket(term: str, n_buckets: int) -> int:
    """:func:`index_bucket_col` of one term, computed in Python: Spark's
    ``xxhash64`` (XXH64 of the UTF-8 bytes, seed 42, read as a signed
    long) ``pmod n_buckets``. A driver-side probe hashes its terms with
    this and no Spark job; a test pins it to ``F.xxhash64``."""
    b = term.encode("utf-8")
    n, seed, i = len(b), 42, 0
    if n >= 32:
        v = [seed + _P1 + _P2 & _M64, seed + _P2, seed, seed - _P1 & _M64]
        while i + 32 <= n:
            v = [
                _round(v[j], int.from_bytes(b[i + 8 * j : i + 8 * j + 8], "little"))
                for j in range(4)
            ]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = seed + _P5
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(b[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(b[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for c in b[i:]:
        h ^= c * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def _packed_buckets(
    index: DataFrame, n_buckets: int, n_files: int
) -> DataFrame:
    """Tag ``(term, postings, df)`` rows with their store bucket and
    lay them out one file per bucket, term-sorted within it: probe
    scans open O(probed buckets) files and row-group-skip on the term
    min/max stats (the write_index_tables sortBy story,
    directory-partitioned). ``n_files`` is the number of buckets
    written; ``partitionBy`` splits a task that holds several buckets
    into one file each, so hash collisions add no files."""
    return (
        index.withColumn("bucket", index_bucket_col("term", n_buckets))
        .repartition(n_files, "bucket")
        .sortWithinPartitions("term")
    )


def write_index_store(
    index: DataFrame, path: str, n_buckets: int = INDEX_STORE_BUCKETS
) -> None:
    """Materialize the index as a term-hash-bucket-PARTITIONED store
    (``path/bucket=K/``) — the layout that makes maintenance
    partition-local: a takedown batch touches only the buckets whose
    postings actually contain its ids
    (:func:`delete_from_index_store` rewrites those dirs and nothing
    else; for page-length docs that is nearly every bucket), the
    discipline the IVF cell store already has
    (``similarity.delete_from_ivf_cells``). Directory partitioning —
    not ``bucketBy`` table buckets — because the maintenance commit
    replaces whole partition directories' files
    (``store.rewrite_partitions``); the
    bucketed-TABLE tier for shuffle-free lookup joins is
    :func:`write_index_tables`, a different axis.

    The seed's manifest commit (``store.seed_store``) records the
    schema and ``n_buckets``: ADD merges and term probes must hash
    terms with the arity the store was laid out with.
    """
    from mapreduce_inverted_index_spark.operators.store import seed_store

    seed_store(
        _packed_buckets(index, n_buckets, n_buckets),
        path,
        "bucket",
        {"n_buckets": n_buckets},
    )


def read_index_store(spark, path: str) -> DataFrame:
    """Read a :func:`write_index_store` store back as a plain index
    ``(term, postings, df)`` — the bucket partition column is storage
    layout, not index content. Opens one committed snapshot through
    the reader manifest (``store.open_snapshot``), so a scan
    concurrent with a maintenance commit never sees a mixed directory
    listing (it sees the pre- or post-commit snapshot). A
    store whose every doc has been taken down is an EMPTY index, not
    an error."""
    from mapreduce_inverted_index_spark.operators.store import (
        open_snapshot,
    )

    snap, _ = open_snapshot(spark, path, "bucket")
    return snap.select("term", "postings", "df")


def delete_from_index_store(
    spark, path: str, doc_ids: "list[int] | DataFrame"
) -> list[int]:
    """Takedown from the bucketed index store — the text twin of
    ``similarity.delete_from_ivf_cells``: remove a batch of doc_ids,
    rewriting ONLY the bucket partitions whose postings contain them.
    Untouched bucket directories keep their exact files
    (pytest-pinned by file listing). The skip pays off only for very
    short docs or many buckets: a doc with ~100 distinct terms misses
    a given one of 16 buckets with probability (15/16)^100 ≈ 0.2 %,
    so on a page-length corpus even a one-doc takedown rewrites
    nearly every bucket.

    Mechanics, 2 Spark jobs and no shuffle: a locate scan collects
    the ``bucket`` of every row whose postings hold a batch id
    (``exists(postings, x -> x IN ids)``; at most one row per
    distinct term of the batch's docs), then the affected buckets'
    rows go through :func:`delete_from_index` with ``bucket`` carried
    along and are sorted within their task by ``(bucket, term)``. A
    store row is the only row of its term and sits in its bucket's
    file, so each row stays in the task that read that file and each
    bucket is written back as one file, with no repartition (a file
    Spark splits across tasks, past ``spark.sql.files.maxPartitionBytes``,
    comes back as one file per split). A ghost batch, whose ids are
    in no posting, runs only the locate scan; an empty batch runs
    nothing; a DataFrame batch adds the job that collects its ids.
    Terms whose last posting dies drop out, a bucket whose last term
    dies loses its directory. Commit = ``store.rewrite_partitions``,
    which refuses a directory with no manifest before anything is
    read: a flat or half-seeded directory has no ``bucket=`` dirs to
    match, so the delete would be a silent no-op and a takedown loop
    would checkpoint its ids away. Returns the affected bucket ids.
    """
    from mapreduce_inverted_index_spark.operators.store import (
        rewrite_partitions,
    )

    ids = _doc_id_list(doc_ids)

    def plan(store: DataFrame, manifest: dict):
        if not ids:
            return [], None
        hit = F.expr(f"exists(postings, x -> {_in_ids(ids)})")
        affected = sorted(
            {r["bucket"] for r in store.where(hit).select("bucket").collect()}
        )
        if not affected:
            return [], None
        base = store.where(F.col("bucket").isin(affected))
        return affected, delete_from_index(base, ids).sortWithinPartitions(
            "bucket", "term"
        )

    return rewrite_partitions(spark, path, "bucket", plan)


def merge_into_index_store(spark, path: str, delta: DataFrame) -> list[int]:
    """ADD to the bucketed index store — the other half of
    :func:`delete_from_index_store`'s bucket-local discipline: fold a
    delta index (newly ingested docs, built by :func:`build_index`
    over the batch only) into the store, rewriting ONLY the bucket
    partitions the delta's terms hash into; a bucket no delta term
    hashes into keeps its exact files (pytest-pinned). A Zipf
    vocabulary puts some term of almost any batch in every bucket: on
    an 800-doc, 16-bucket store, 10- to 300-doc merges each rewrote
    16 of 16 buckets.

    Mechanics: the delta's buckets come from one bounded collect
    (≤ n_buckets ints — hashed with the manifest's ``n_buckets``, the
    arity :func:`write_index_store` laid the store out with); the
    affected subset full-outer-merges with the delta via
    :func:`merge_index` and commits through
    ``store.rewrite_partitions``. A fully-taken-down store merges
    against its empty snapshot, so re-ingest rebuilds the bucketed
    layout in place. A directory with no manifest is refused, like
    :func:`delete_from_index_store`. Returns the affected bucket ids.
    """
    from mapreduce_inverted_index_spark.operators.store import (
        rewrite_partitions,
    )

    def plan(store: DataFrame, manifest: dict):
        n_buckets = manifest["n_buckets"]
        affected = sorted(
            r["bucket"]
            for r in delta.select(
                index_bucket_col("term", n_buckets).alias("bucket")
            )
            .distinct()
            .collect()
        )
        if not affected:
            return [], None
        base = store.where(F.col("bucket").isin(affected)).select(
            "term", "postings", "df"
        )
        return affected, _packed_buckets(
            merge_index(base, delta), n_buckets, len(affected)
        )

    return rewrite_partitions(spark, path, "bucket", plan)


def term_lookup_store(spark, path: str, terms: "list[str]") -> DataFrame:
    """Exact term probe over the PARTITIONED index store, served from
    the driver with no Spark job: the probe terms' buckets are hashed
    in Python (:func:`term_bucket`, with the ``n_buckets`` of the
    manifest the read resolved), exactly those buckets' manifest-named
    files are read with pyarrow, filtered to the probe terms, and the
    rows come back as a local DataFrame (a ``LocalTableScan``;
    ``collect`` runs no job either). A lookup holds at most one row
    per distinct term, so nothing lands on the driver that a Spark
    task would not hold anyway. The directory-layout twin of the
    bucketed-TABLE lookup (``term_queries.term_lookup_bucketed``).

    Output: ``term, postings ARRAY<BIGINT>, df``.

    Like :func:`read_index_store`, reads one committed snapshot
    through the reader manifest (``store.read_partitions``): a probe
    concurrent with a commit sees the pre- or post-commit rows, never
    a mixed listing.
    """
    from mapreduce_inverted_index_spark.operators.store import (
        read_partitions,
    )

    table = read_partitions(
        path,
        "bucket",
        lambda m: {term_bucket(t, m["n_buckets"]) for t in terms},
        ["term", "postings", "df"],
        [("term", "in", terms)],
    )
    # one chunk: a probed bucket with none of the terms reads as a
    # 0-row record batch, and Spark's Arrow input silently drops every
    # row after such a batch
    return spark.createDataFrame(
        table.combine_chunks(), "term string, postings array<bigint>, df bigint"
    )


def _doc_id_list(doc_ids: "list[int] | DataFrame") -> "list[int]":
    """A deletion batch as a list of distinct ids; a DataFrame batch
    (column ``doc_id``) is collected in one job, its null ids dropped
    (a null matches no posting)."""
    if isinstance(doc_ids, DataFrame):
        doc_ids = [
            r[0]
            for r in doc_ids.select(F.col("doc_id").cast("bigint")).collect()
            if r[0] is not None
        ]
    return sorted({int(d) for d in doc_ids})


def _in_ids(ids: "list[int]") -> str:
    """``x IN (ids)`` as ONE SQL string parsed JVM-side: the Column
    form ``x.isin(ids)`` marshals one py4j round-trip per id (~6 s for
    10,001 ids), the SQL form parses the same ``In`` in ~10 ms."""
    return "x IN (" + ",".join(map(str, ids)) + ")"


def delete_from_index(
    index: DataFrame, doc_ids: "list[int] | DataFrame"
) -> DataFrame:
    """Incremental index maintenance, the DELETE half (adds are
    :func:`merge_index`): remove a batch of documents from a built
    index without re-reading any document text. Postings are filtered
    per term, df recomputed, terms whose last posting vanishes drop
    out — so the result is EXACTLY ``build_index`` of the surviving
    corpus (the invariant the oracle and pytest assert).

    One row-local plan for every batch, a list of any length or a
    DataFrame (column ``doc_id``, collected first): an index holds
    one row per term, so each row keeps
    ``filter(postings, x -> NOT x IN ids)`` where it lies — no
    explode, join or regroup, hence no shuffle, and postings stay
    sorted. Rows with no surviving posting are dropped first
    (``exists``, which stops at the first survivor). The ids enter
    the plan as one ``IN`` list (:func:`_in_ids`), which Catalyst
    turns into a hashed ``InSet`` above 10 ids
    (``spark.sql.optimizer.inSetConversionThreshold``). Columns
    other than ``postings`` and ``df`` pass through, so the store
    keeps its ``bucket``. An empty batch returns ``index`` as it is.
    A multi-GB deletion list is out of scope: you want
    :func:`build_index` on the filtered corpus instead.
    """
    ids = _doc_id_list(doc_ids)
    if not ids:
        return index
    keep = f"x -> NOT {_in_ids(ids)}"
    return (
        index.where(F.expr(f"exists(postings, {keep})"))
        .withColumn("postings", F.expr(f"filter(postings, {keep})"))
        .withColumn("df", F.size("postings").cast("bigint"))
    )
