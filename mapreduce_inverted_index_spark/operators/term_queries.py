"""Query surface over the inverted index — the reference's implied IR
semantics (SURVEY.md §2.8: exact lookup, boolean AND/OR/NOT) plus
tf-idf ranking and top-k, realized as DataFrame operators.

The reference documents exact-term lookup → postings list
(``Readme.md:222-242``); boolean queries are postings
intersection/union/difference over that structure. Here both shapes
are supported:
  * array form — operate on the ``postings`` arrays of a built index
    (cheap when the index is materialized and term-pruned),
  * relational form — semi/anti-joins over the (doc_id, term) pairs
    (scales when postings lists themselves are huge; no giant arrays
    on a single row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.inverted_index import doc_terms

__all__ = [
    "term_lookup",
    "term_lookup_bucketed",
    "and_query",
    "or_query",
    "not_query",
    "tf_idf",
    "top_k_terms",
    "positional_terms",
    "positional_index",
    "phrase_query",
    "bm25_rank",
    "tfidf_cosine_pairs",
]


def term_lookup(index: DataFrame, term: str) -> DataFrame:
    """Exact-term lookup (``Readme.md:222-242``). On a term-bucketed /
    sorted Parquet index this is a pruned scan, not a full pass."""
    return index.where(F.col("term") == term)


def term_lookup_bucketed(
    spark, index_table: str, tf_table: str, terms_wanted: list[str]
) -> DataFrame:
    """Shuffle-FREE multi-term lookup over the bucketed index tier
    (see :func:`~mapreduce_inverted_index_spark.operators
    .inverted_index.write_index_tables`): postings + df from the
    index table joined with the total corpus tf per term rolled up
    from the tf table. Both tables are ``bucketBy(term)`` with equal
    bucket counts, so the ``groupBy(term)`` AND the term join satisfy
    their required distributions straight off the scan — the physical
    plan contains ZERO Exchange nodes (PLANS.md-audited), and the
    ``isin`` predicate bucket-prunes both scans. This is the
    plan every per-query index probe should have at 100 TB: touch
    ≤ |terms| bucket files per table, shuffle nothing.

    Output: ``term, postings ARRAY<BIGINT>, df, total_tf``.
    """
    index = spark.table(index_table).where(F.col("term").isin(terms_wanted))
    tf_roll = (
        spark.table(tf_table)
        .where(F.col("term").isin(terms_wanted))
        .groupBy("term")
        .agg(F.sum("tf").cast("bigint").alias("total_tf"))
    )
    return index.join(tf_roll, "term").select("term", "postings", "df", "total_tf")


def prefix_query(spark, index_table: str, prefix: str) -> DataFrame:
    """Wildcard/prefix term probe over the stored index tier:
    ``term LIKE 'pre%'`` as a scan-side predicate. Hash bucketing
    can't prune a RANGE of terms, but the layout still makes this a
    pure IO-bounded probe at 100 TB: ``startswith`` compiles to a
    ``StringStartsWith`` pushed filter (PLANS.md-audited), and the
    ``sortBy(term)`` file layout gives every row group a tight
    term min/max, so the parquet reader skips all row groups whose
    range can't contain the prefix — the scan touches the few
    term-contiguous pages that match, no shuffle, no join.

    Output: ``term, df, postings ARRAY<BIGINT>``; row order is
    unspecified (a trailing global ORDER BY would add the exact
    range-exchange + sort this operator exists to avoid — order at
    the consumer if the result is small enough to care).
    """
    return (
        spark.table(index_table)
        .where(F.col("term").startswith(prefix))
        .select("term", "df", "postings")
    )


def and_query(docs: DataFrame, terms_wanted: list[str]) -> DataFrame:
    """Docs containing ALL the given terms (postings intersection).

    Relational form: filter pairs to the wanted terms, then require
    the distinct-term count per doc to equal ``len(terms_wanted)``.
    One narrow filter + one small-keyspace aggregate — no index
    materialization needed, and the filter prunes before any shuffle.
    """
    pairs = doc_terms(docs)
    return (
        pairs.where(F.col("term").isin(terms_wanted))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
        .where(F.col("n_matched") == len(terms_wanted))
        .select("doc_id")
    )


def or_query(docs: DataFrame, terms_wanted: list[str]) -> DataFrame:
    """Docs containing ANY of the given terms (postings union)."""
    pairs = doc_terms(docs)
    return (
        pairs.where(F.col("term").isin(terms_wanted))
        .select("doc_id")
        .distinct()
    )


def not_query(docs: DataFrame, include_term: str, exclude_term: str) -> DataFrame:
    """Docs with ``include_term`` but NOT ``exclude_term``
    (postings difference) — a left-anti join on doc_id."""
    pairs = doc_terms(docs)
    inc = pairs.where(F.col("term") == include_term).select("doc_id")
    exc = pairs.where(F.col("term") == exclude_term).select("doc_id")
    return inc.join(exc, "doc_id", "left_anti")


def tf_idf(docs: DataFrame) -> DataFrame:
    """tf-idf score per (doc_id, term).

    tf = raw in-doc term count (duplicates preserved through the
    tokenizer), idf = ln(N / df). N is a scalar aggregate broadcast
    into the expression; df comes from a groupBy over the pairs and
    joins back — both shuffles are on the term key and AQE will
    broadcast the df side when small. Score rounded so differential
    oracles compare stably across engines.

    ``tf`` is persisted because it feeds two branches (the join and
    the df aggregation), which would otherwise each re-tokenize the
    corpus.
    """
    from mapreduce_inverted_index_spark.operators.inverted_index import doc_term_freq

    tf = doc_term_freq(docs).persist()
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4)
             .alias("tfidf"),
        )
    )


def positional_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) over raw normalized tokens — the positional
    stream the reference's mapper drops (``mapper/src/processor.py:190``
    keeps only ``set(terms)``). Positions are offsets in the full
    token sequence (stopwords included) so phrase adjacency is
    meaningful."""
    from mapreduce_inverted_index_spark.functions.text import tokenize

    return docs.select(
        F.col("doc_id").alias("doc_id"),
        F.posexplode(tokenize("text")).alias("pos", "term"),
    )


def positional_index(docs: DataFrame) -> DataFrame:
    """Positional inverted index: ``term → [(doc_id, positions)]``.

    The next index shape up from the reference's doc-only postings —
    what phrase and proximity queries consume. Same two-aggregate
    plan as the flagship (both shuffles on bounded keys; positions
    stay packed in arrays, never as wide rows past the first
    groupBy). Output: ``term, postings ARRAY<STRUCT<doc_id,
    positions ARRAY<INT>>> (both levels sorted), df``.
    """
    per_doc = (
        positional_terms(docs)
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"))
    )
    return per_doc.groupBy("term").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "positions"))
        ).alias("postings"),
        F.count("*").cast("bigint").alias("df"),
    )


def phrase_query(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase query: docs where ``phrase`` occurs as consecutive
    tokens. Output: ``doc_id, n_occurrences``.

    The positional-index algorithm: each phrase word contributes its
    positions shifted back by its slot; a full slot set at one start
    offset is a phrase hit. Realized as one broadcast join of the
    token stream against the k-row (word, slot) table and one
    ``groupBy(doc_id, start)`` — no index materialization, no
    self-join of the corpus, arbitrary phrase length. Duplicate words
    in the phrase are handled (a token matches once per slot).
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    k = len(phrase)
    slots = docs.sparkSession.createDataFrame(
        [(w, j) for j, w in enumerate(phrase)], "term string, slot int"
    )
    hits = (
        positional_terms(docs)
        .join(F.broadcast(slots), "term")
        .select("doc_id", (F.col("pos") - F.col("slot")).alias("start"))
    )
    # (doc_id, pos, slot) triples are unique, so count(*) per
    # (doc_id, start) == number of distinct slots present there.
    return (
        hits.where(F.col("start") >= 0)
        .groupBy("doc_id", "start")
        .agg(F.count("*").alias("n_slots"))
        .where(F.col("n_slots") == k)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )


def bm25_rank(docs: DataFrame, query_terms: list[str], *, k1: float = 1.2,
              b: float = 0.75, k: int = 10, tf: DataFrame | None = None,
              dl: DataFrame | None = None) -> DataFrame:
    """Okapi BM25 top-k ranking for a bag-of-terms query.

    idf is the Lucene form ``ln(1 + (N - df + 0.5)/(df + 0.5))``;
    per-term scores use the standard ``tf·(k1+1) / (tf + k1·(1 - b +
    b·dl/avgdl))``. Plan: one tf build (term-keyed shuffle), doc
    lengths from the same tf table (doc-keyed aggregate), scalar
    ``N``/``avgdl`` and the ≤|query| df rows broadcast; final top-k
    is TakeOrderedAndProject. Scores are rounded after each
    transcendental and summed in fixed query order, so a DuckDB twin
    reproduces them bit-exactly; ties break on doc_id.

    A computed ``tf``/``dl`` is persisted because each feeds several
    branches (doc lengths, query-term rows, stats, the score join),
    which would otherwise each re-derive the corpus pipeline.

    ``tf``: optional precomputed (doc_id, term, tf) table — pass
    ``spark.table(tf_table)`` from ``write_index_tables`` so the qtf
    filter bucket-prunes and the df aggregate runs Exchange-free;
    the corpus is then never tokenized at query time at all.

    ``dl``: optional precomputed (doc_id, dl) table — pass BOTH
    tables from ``inverted_index.write_doc_tables`` (co-bucketed on
    doc_id) and the score join qtf x dl runs with NO
    doc_id Exchange at all (pytest-audited in the
    ``bm25_topk_colocated`` catalog twin): the doc-axis shuffle the
    plain form pays per query is paid once at write time.
    """
    from mapreduce_inverted_index_spark.operators.inverted_index import doc_term_freq

    if tf is None:
        tf = doc_term_freq(docs).persist()
    if dl is None:
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).persist()
    else:
        # precomputed (co-bucketed) dl: pin the sort-merge shape so
        # the zero-Exchange bucket join is the plan at EVERY scale —
        # at fixture scale the planner would broadcast dl instead,
        # which hides the co-location property (and at 100 TB dl is
        # not broadcast-sized anyway)
        dl = dl.hint("merge")
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qtf = tf.where(F.col("term").isin(query_terms))
    df_ = qtf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        9,
    )
    score_t = F.round(
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        9,
    )
    scored = (
        qtf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", score_t.alias("s"))
    )
    # (doc_id, term) rows are unique, so each conditional sum picks
    # exactly one value; adding them in query order keeps the double
    # arithmetic identical across engines.
    parts = [
        F.sum(F.when(F.col("term") == t, F.col("s"))).alias(f"_s{i}")
        for i, t in enumerate(query_terms)
    ]
    total = sum(
        (F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(query_terms))),
        start=F.lit(0.0),
    )
    return (
        scored.groupBy("doc_id")
        .agg(*parts)
        .select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs document cosine similarity over tf-idf vectors via a
    posting-list join — the classic sparse similarity join (and the
    semantic cousin of the shingle-Jaccard dedup family: same output
    shape, different notion of "near").

    Plan: tf build (one term-keyed shuffle) → df per term with a
    ``max_df`` cap — the scale knob: joining postings on term costs
    Σ_t df(t)², so dropping ubiquitous terms (which carry ~zero idf
    weight anyway) is what keeps the pair space bounded; it's the
    df-cut every all-pairs-similarity system applies (prefix-filter
    family). Then postings self-join on term → one ``groupBy(doc_a,
    doc_b)`` dot product → join per-doc norms → threshold filter.

    Cross-engine exactness: weights quantize to DECIMAL(18,9) after
    the one rounded transcendental (``ln``), so dot products and
    norm² are *exact integer-scaled sums* — order-independent,
    bit-identical in any engine — and the final
    ``dot / (norm_a · norm_b)`` is two IEEE ops on exact inputs.
    Zero-weight rows (df == N) are excluded so every participating
    doc has a positive norm (no NaN cosines, whose ordering semantics
    differ across engines).

    Output: ``doc_a, doc_b, cosine`` (doc_a < doc_b).

    The tf and weight tables are persisted because they feed two and
    three branches, which would otherwise each re-derive the whole
    tokenize/tf pipeline.
    """
    from mapreduce_inverted_index_spark.operators.inverted_index import doc_term_freq

    tf = doc_term_freq(docs).persist()
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") < F.col("n_docs"))  # ln(N/df) > 0
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                9,
            )
            # (18,9) not (19,9): products of two (18,9) are (37,18) —
            # exact in both Spark (≤38) and DuckDB. At (19,9) products
            # need precision 39 > 38 and Spark silently rounds to
            # scale 17 under allowPrecisionLoss while DuckDB stays
            # exact — a latent ~1e-18/term divergence.
            .cast("decimal(18,9)")
            .alias("w"),
        )
        .persist()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a = w.select("term", F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"))
    b = w.select("term", F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = F.round(
        F.col("dot").cast("double") / (F.col("na.nrm") * F.col("nb.nrm")), 6
    )
    return (
        dots.join(norms.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(norms.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def top_k_terms(docs: DataFrame, k: int = 25) -> DataFrame:
    """Top-k terms by document frequency (ties broken by term) —
    sort + limit on an already-tiny aggregate, so the global sort is
    cheap regardless of corpus size."""
    from mapreduce_inverted_index_spark.operators.inverted_index import doc_freq

    return (
        doc_freq(docs)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def write_reversed_index(
    index: DataFrame, path: str, buckets: int = 8, prefix: str = "mii"
) -> str:
    """Materialize the SUFFIX-probe tier: the index keyed by the
    REVERSED term, ``bucketBy/sortBy(rterm)`` — the classic trick
    that turns a trailing wildcard (``*ing``) into a leading one:
    ``term LIKE '%ing'`` ⇔ ``reverse(term) LIKE 'gni%'``, which
    pushes down as StringStartsWith and row-group-skips on the
    sorted layout exactly like :func:`prefix_query`. One extra copy
    of the (tiny, term-keyed) index buys O(matching pages) suffix
    probes forever; a leading wildcard against the FORWARD layout
    would scan every term.

    Returns the table name.
    """
    name = f"{prefix}_rindex_b{buckets}"
    (
        index.select(
            F.reverse(F.col("term")).alias("rterm"), "term", "df", "postings"
        )
        .write.mode("overwrite")
        .bucketBy(buckets, "rterm")
        .sortBy("rterm")
        .option("path", path)
        .saveAsTable(name)
    )
    return name


def suffix_query(spark, rindex_table: str, suffix: str) -> DataFrame:
    """Trailing-wildcard term probe (``*suffix``) over the
    :func:`write_reversed_index` tier: a StringStartsWith scan
    predicate on the reversed key — IO-bounded, no shuffle, no join,
    the mirror image of :func:`prefix_query`.

    Output: ``term, df, postings ARRAY<BIGINT>``.
    """
    return (
        spark.table(rindex_table)
        .where(F.col("rterm").startswith(suffix[::-1]))
        .select("term", "df", "postings")
    )
