"""Inverted-index query catalog — the reference's data plane
(SURVEY.md §2.3-§2.5, §2.8) with DuckDB oracle twins.

Postings arrays are serialized to CSV strings in oracle-facing
outputs (``array_join`` / ``array_to_string``) so value-hash
comparison is representation-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.text import (
    sql_strip_html,
    sql_terms,
    sql_tokens,
    strip_html,
)
from mapreduce_inverted_index_spark.operators import inverted_index as idx
from mapreduce_inverted_index_spark.operators import term_queries as tq
from mapreduce_inverted_index_spark.plans.registry import register, work_root
from mapreduce_inverted_index_spark.sources.tables import load_table

# Query terms guaranteed to exist in the synthetic vocabulary
# (TESTDATA documents use words like join/filter/window/...).
_T1, _T2, _T3 = "join", "window", "filter"

# Shared oracle fragment: the exploded, stopword-filtered,
# per-document-distinct (doc_id, term) pairs.
_PAIRS_SQL = (
    "SELECT doc_id, unnest(" + sql_terms("text", distinct=True) + ") AS term "
    "FROM documents"
)
_TF_SQL = (
    "SELECT doc_id, unnest(" + sql_terms("text", distinct=False) + ") AS term "
    "FROM documents"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "inverted_index",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs GROUP BY term
    """,
    doc="Flagship: documents -> term -> sorted distinct postings + df "
        "(reference reducer output, reducer/src/processor.py:15-88).",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return idx.build_index(_docs(spark, sf_dir)).select(
        "term",
        F.array_join("postings", ",").alias("postings_csv"),
        "df",
    )


@register(
    "term_lookup_bucketed",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    tfp AS (
      SELECT doc_id, term, count(*) AS tf
      FROM ({_TF_SQL}) GROUP BY doc_id, term
    ),
    idx AS (
      SELECT term,
             array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
             count(*) AS df
      FROM pairs WHERE term IN ('{_T1}', '{_T2}', '{_T3}') GROUP BY term
    ),
    roll AS (
      SELECT term, CAST(SUM(tf) AS BIGINT) AS total_tf
      FROM tfp WHERE term IN ('{_T1}', '{_T2}', '{_T3}') GROUP BY term
    )
    SELECT term, postings_csv, df, total_tf FROM idx JOIN roll USING (term)
    """,
    doc="Bucketed-index lookup tier: postings index + tf table both "
        "written bucketBy(term)/sortBy(term) with equal bucket counts, "
        "so the tf rollup AND the term join run with ZERO Exchange "
        "nodes and the isin predicate bucket-prunes both scans — the "
        "100 TB per-query probe plan the reference's single-JSON "
        "index cannot express (reducer/src/processor.py:90-113).",
)
def q_term_lookup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    path = f"{tempfile.gettempdir()}/mii_bidx_{tag}"
    index_t, tf_t = idx.write_index_tables(
        _docs(spark, sf_dir), path, buckets=8, prefix=f"mii_{tag}"
    )
    return tq.term_lookup_bucketed(spark, index_t, tf_t, [_T1, _T2, _T3]).select(
        "term", F.array_join("postings", ",").alias("postings_csv"), "df", "total_tf"
    )


@register(
    "prefix_query_index",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           count(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv
    FROM pairs WHERE term LIKE 's%' GROUP BY term
    """,
    doc="Wildcard/prefix probe over the STORED index tier: "
        "term LIKE 's%' as a scan predicate on the bucketed+sorted "
        "index table. Hash buckets can't prune a term RANGE, but "
        "startswith pushes down as StringStartsWith (plan-audited) "
        "and the sortBy(term) layout gives row groups tight term "
        "min/max stats, so the reader skips everything outside the "
        "prefix range — an IO-bounded probe, no shuffle, no join. "
        "Operator: term_queries.prefix_query.",
)
def q_prefix_query_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    path = f"{tempfile.gettempdir()}/mii_bidx_{tag}"
    index_t, _tf_t = idx.write_index_tables(
        _docs(spark, sf_dir), path, buckets=8, prefix=f"mii_{tag}"
    )
    return tq.prefix_query(spark, index_t, "s").select(
        "term", "df", F.array_join("postings", ",").alias("postings_csv")
    )


@register(
    "index_delete_docs",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    dead AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0
             ORDER BY doc_id LIMIT 64)
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs WHERE doc_id NOT IN (SELECT doc_id FROM dead)
    GROUP BY term
    """,
    doc="Index maintenance, the DELETE half (merge_index is the ADD "
        "half): remove a takedown/opt-out batch from a built index "
        "WITHOUT re-reading document text — each term's postings "
        "filtered where they lie against one InSet of the batch's ids "
        "(no explode, join or regroup), df recomputed; terms losing "
        "their last posting drop out. The demo derives a BOUNDED "
        "batch (64 lowest doc_ids ≡ 0 mod 7 — deterministic at every "
        "SF, so the collected list never scales with the corpus). The "
        "oracle rebuilds the index from the SURVIVING corpus, so a "
        "green row proves the invariant delete(build(all)) == "
        "build(all - deleted). "
        "Operator: inverted_index.delete_from_index.",
)
def q_index_delete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # deletion batches are operator-input-sized (takedown lists);
    # this demo derives one deterministically from the fixture,
    # bounded so driver memory/plan size never scale with the corpus
    dead = [
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 7 == 0)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(64)
        .collect()
    ]
    return idx.delete_from_index(idx.build_index(docs), dead).select(
        "term", F.array_join("postings", ",").alias("postings_csv"), "df"
    )


@register(
    "doc_terms",
    oracle=f"WITH pairs AS ({_PAIRS_SQL}) SELECT doc_id, term FROM pairs",
    doc="Map-phase output: per-doc distinct (doc_id, term) pairs "
        "(mapper/src/processor.py:173-199).",
)
def q_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return idx.doc_terms(_docs(spark, sf_dir))


@register(
    "doc_freq",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term, count(*) AS df FROM pairs GROUP BY term
    """,
    doc="Document frequency per term (array-free aggregate).",
)
def q_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return idx.doc_freq(_docs(spark, sf_dir))


@register(
    "index_stats",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT count(*) AS num_postings,
           count(DISTINCT term) AS num_terms,
           count(DISTINCT doc_id) AS num_docs
    FROM pairs
    """,
    doc="Corpus counters (reference metadata block, A4).",
)
def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return idx.index_stats(_docs(spark, sf_dir))


@register(
    "term_lookup",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs WHERE term = '{_T1}' GROUP BY term
    """,
    doc=f"Exact-term lookup for '{_T1}' (Readme.md:222-242 contract).",
)
def q_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = idx.build_index(_docs(spark, sf_dir))
    return tq.term_lookup(index, _T1).select(
        "term", F.array_join("postings", ",").alias("postings_csv"), "df"
    )


@register(
    "and_query",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT doc_id FROM pairs WHERE term IN ('{_T1}', '{_T2}')
    GROUP BY doc_id HAVING count(DISTINCT term) = 2
    """,
    doc=f"Boolean AND: docs containing both '{_T1}' and '{_T2}' "
        "(postings intersection, SURVEY.md §2.8).",
)
def q_and_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.and_query(_docs(spark, sf_dir), [_T1, _T2])


@register(
    "or_query",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT DISTINCT doc_id FROM pairs WHERE term IN ('{_T1}', '{_T2}')
    """,
    doc=f"Boolean OR: docs containing '{_T1}' or '{_T2}' (postings union).",
)
def q_or_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.or_query(_docs(spark, sf_dir), [_T1, _T2])


@register(
    "not_query",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT doc_id FROM pairs WHERE term = '{_T1}'
    EXCEPT
    SELECT doc_id FROM pairs WHERE term = '{_T3}'
    """,
    doc=f"Boolean NOT: docs with '{_T1}' but not '{_T3}' "
        "(postings difference via anti-join).",
)
def q_not_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.not_query(_docs(spark, sf_dir), _T1, _T3)


@register(
    "tf_idf",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM ({_TF_SQL}) GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           round(tf.tf * ln(total.n_docs / dfreq.df), 4) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN total
    """,
    doc="tf-idf score per (doc, term); tf keeps in-doc duplicates.",
)
def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.tf_idf(_docs(spark, sf_dir))


@register(
    "doc_terms_udtf_api",
    oracle=f"WITH pairs AS ({_PAIRS_SQL}) SELECT doc_id, term FROM pairs",
    doc="Python UDTF API demo (SURVEY §2.6): the reference's "
        "one-URL-to-many-term-rows map function as a registered "
        "LATERAL table function — Arrow-batched, same output as the "
        "builtin explode path (doc_terms), which remains the "
        "production pipeline. Completes the UDF/UDAF/UDTF surface "
        "next to the grouped-Pandas UDAF demo.",
)
def q_doc_terms_udtf_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    from mapreduce_inverted_index_spark.functions.text import python_terms

    @udtf(returnType="doc_id bigint, term string", useArrow=True)
    class TermsUDTF:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001 — UDTF contract
            for t in python_terms(text):
                yield doc_id, t

    spark.udtf.register("mii_terms_udtf", TermsUDTF)
    _docs(spark, sf_dir).createOrReplaceTempView("_mii_udtf_docs")
    return spark.sql(
        "SELECT s.doc_id, s.term "
        "FROM _mii_udtf_docs, LATERAL mii_terms_udtf(doc_id, text) s"
    )


@register(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM ({_TF_SQL}) GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) <= 100
    ),
    total AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT doc_id, term,
             CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9)
                  AS DECIMAL(18,9)) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN total
      WHERE df < n_docs
    ),
    norms AS (
      SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b USING (term)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON dots.doc_a = na.doc_id
    JOIN norms nb ON dots.doc_b = nb.doc_id
    WHERE round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.3
    """,
    doc="All-pairs tf-idf cosine similarity via df-capped posting-list "
        "self-join (Σ df² bounded by the max_df cut); DECIMAL-quantized "
        "weights make dot/norm sums order-independent and bit-exact "
        "cross-engine.",
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.tfidf_cosine_pairs(_docs(spark, sf_dir), threshold=0.3, max_df=100)


@register(
    "top_k_terms",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY term)
    SELECT term, df FROM dfreq ORDER BY df DESC, term ASC LIMIT 25
    """,
    doc="Top-25 terms by document frequency (sort+limit on aggregate).",
)
def q_top_k_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.top_k_terms(_docs(spark, sf_dir), k=25)


# ---------------------------------------------------- array-form booleans

@register(
    "and_query_postings",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT doc_id FROM pairs WHERE term IN ('{_T1}', '{_T2}')
    GROUP BY doc_id HAVING count(DISTINCT term) = 2
    """,
    doc="Boolean AND in array form: array_intersect of the two "
        "postings arrays from the built index (SURVEY.md §2.8's "
        "postings-intersection shape; same result as and_query).",
)
def q_and_query_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = idx.build_index(_docs(spark, sf_dir))
    a = index.where(F.col("term") == _T1).select(F.col("postings").alias("pa"))
    b = index.where(F.col("term") == _T2).select(F.col("postings").alias("pb"))
    return (
        a.crossJoin(b)
        .select(F.explode(F.array_intersect("pa", "pb")).alias("doc_id"))
    )


@register(
    "not_query_postings",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT doc_id FROM pairs WHERE term = '{_T1}'
    EXCEPT
    SELECT doc_id FROM pairs WHERE term = '{_T3}'
    """,
    doc="Boolean NOT in array form: array_except of postings arrays.",
)
def q_not_query_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = idx.build_index(_docs(spark, sf_dir))
    a = index.where(F.col("term") == _T1).select(F.col("postings").alias("pa"))
    b = index.where(F.col("term") == _T3).select(F.col("postings").alias("pb"))
    return (
        a.crossJoin(b)
        .select(F.explode(F.array_except("pa", "pb")).alias("doc_id"))
    )


# ------------------------------------------------------- id assignment

@register(
    "assign_dense_ids",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
             AS assigned_id
    FROM documents
    """,
    doc="Dense deterministic id assignment via row_number over a "
        "stable key (reference doc_id parity, SURVEY.md §1.4).",
)
def q_assign_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.operators.ids import assign_dense_ids

    docs = _docs(spark, sf_dir)
    return assign_dense_ids(docs, ["source", "doc_id"]).select("doc_id", "assigned_id")


# --------------------------------------------------- defensive JSON parse

@register(
    "from_json_validation",
    oracle="""
    SELECT event_type,
           count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NOT NULL)
             AS n_valid,
           count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL)
             AS n_corrupt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events GROUP BY event_type
    """,
    doc="P7 parity: schema-enforced from_json where malformed rows "
        "null out and are counted, not failed "
        "(reducer/src/reducer.py:97-120's log-and-skip, schematized).",
)
def q_from_json_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.col("p.k")).alias("n_valid"),
        F.count(F.when(F.col("p.k").isNull(), 1)).alias("n_corrupt"),
        F.sum(F.col("p.k")).alias("sum_k"),
    )


@register(
    "inverted_index_struct",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_id, 'doc://' || CAST(doc_id AS VARCHAR) AS url,
             unnest({sql_terms('text', distinct=True)}) AS term
      FROM documents
    )
    SELECT term,
           array_to_string(
             list(CAST(doc_id AS VARCHAR) || '@' || url ORDER BY doc_id), ',')
             AS postings_csv,
           count(*) AS df
    FROM pairs GROUP BY term
    """,
    doc="Reference-shaped postings payload: ARRAY<STRUCT<doc_id,url>> "
        "per term (mapper/src/processor.py:191-192 emits {term, "
        "doc_id, url}); struct sort_array orders by doc_id first "
        "(reducer/src/processor.py:66-67). url synthesized "
        "deterministically (fixtures carry no urls).",
)
def q_inverted_index_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    )
    pairs = idx.doc_terms(docs).join(
        docs.select("doc_id", "url"), "doc_id"
    )
    index = pairs.groupBy("term").agg(
        F.sort_array(F.collect_set(F.struct("doc_id", "url"))).alias("postings"),
        F.count("*").alias("df"),
    )
    return index.select(
        "term",
        F.array_join(
            F.transform(
                "postings",
                lambda p: F.concat(
                    p["doc_id"].cast("string"), F.lit("@"), p["url"]
                ),
            ),
            ",",
        ).alias("postings_csv"),
        "df",
    )


@register(
    "term_first_positions",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    d AS (SELECT doc_id, toks, unnest(list_distinct(toks)) AS term FROM t)
    SELECT doc_id, term,
           CAST(list_position(toks, term) - 1 AS INTEGER) AS first_pos
    FROM d
    """,
    doc="Positional tokenization: posexplode over the token array -> "
        "first occurrence offset of every distinct term per doc "
        "(position data the reference's index drops).",
)
def q_term_first_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.functions.text import tokenize

    d = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "term")
    )
    return d.groupBy("doc_id", "term").agg(
        F.min("pos").cast("int").alias("first_pos")
    )


# --- S2 parity: HTML projection feeding the index -------------------
#
# A deterministic HTML wrapper turns the documents table into a fake
# web corpus: content div + heading/list markup that SHOULD index,
# plus style/script/table/comment/footer content that must NOT. Both
# engines build the same string and run the same strip cascade, so
# the whole projection is value-hash checkable.

_HTML_PREFIX = (
    '<html><head><title>Ignored Title</title><style>p {color: red}</style>'
    '</head><body><!-- nav chrome --><div id="mw-content-text">'
    "<h2>Corpus Heading</h2><p>"
)
_HTML_SUFFIX = (
    "</p><script>track(1 < 2);</script><ul><li>List &amp; item</li></ul>"
    '<table class="infobox"><tr><td>dropped cell</td></tr></table></div>'
    "<footer>dropped footer</footer></body></html>"
)
_SQL_HTML = f"'{_HTML_PREFIX}' || text || '{_HTML_SUFFIX}'"


def _html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents wrapped as HTML pages, then stripped back to text
    via the S2 projection (reference mapper/src/processor.py:146-155:
    content div -> drop table/script/style -> space-joined text)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        strip_html(
            F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)),
            content_div_id="mw-content-text",
        ).alias("text"),
    )


_SQL_CLEAN_DOCS = (
    "SELECT doc_id, "
    + sql_strip_html("html", content_div_id="mw-content-text")
    + f" AS text FROM (SELECT doc_id, {_SQL_HTML} AS html FROM documents)"
)


@register(
    "html_strip_clean",
    oracle=f"""
    WITH c AS ({_SQL_CLEAN_DOCS})
    SELECT doc_id,
           md5(text) AS clean_md5,
           CAST(len({sql_tokens('text')}) AS INTEGER) AS n_tokens
    FROM c
    """,
    doc="S2 HTML projection, value-exact: per-doc md5 of the stripped "
        "text + token count. Pins the whole cascade (content-div "
        "extraction, subtree drops, comment/tag strip, entity decode, "
        "whitespace collapse) bit-for-bit against the RE2 twin.",
)
def q_html_strip_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.functions.text import tokenize

    return _html_docs(spark, sf_dir).select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        F.size(tokenize("text")).alias("n_tokens"),
    )


@register(
    "html_corpus_index",
    oracle=f"""
    WITH c AS ({_SQL_CLEAN_DOCS}),
    pairs AS (
      SELECT doc_id, unnest({sql_terms('text', distinct=True)}) AS term FROM c
    )
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs GROUP BY term
    """,
    doc="End-to-end web-corpus pipeline: HTML page -> S2 strip "
        "projection -> tokenize -> inverted index. The reference's "
        "actual crawl data plane (fetch_page_content feeding "
        "map_terms_to_documents) over the columnar corpus.",
)
def q_html_corpus_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return idx.build_index(_html_docs(spark, sf_dir)).select(
        "term",
        F.array_join("postings", ",").alias("postings_csv"),
        "df",
    )


@register(
    "incremental_index_merge",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs GROUP BY term
    """,
    doc="Incremental index maintenance: corpus split 80/20 by id, two "
        "independent index builds, full-outer merge on term (sorted "
        "distinct postings union, df recomputed). The oracle is the "
        "FULL-rebuild index — merge-of-parts must equal rebuild "
        "exactly, which is the invariant that makes incremental "
        "maintenance sound at 100 TB.",
)
def q_incremental_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    merged = idx.merge_index(idx.build_index(old), idx.build_index(new))
    return merged.select(
        "term", F.array_join("postings", ",").alias("postings_csv"), "df"
    )


@register(
    "gap_encoded_index",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
         idx AS (SELECT term, list_sort(list(doc_id)) AS p, count(*) AS df
                 FROM pairs GROUP BY term)
    SELECT term,
           array_to_string(
             [CASE WHEN i = 1 THEN p[i] ELSE p[i] - p[i-1] END
              for i in range(1, len(p) + 1)], ',') AS gaps_csv,
           df,
           TRUE AS roundtrip_ok
    FROM idx
    """,
    doc="Gap/delta-encoded postings (the Lucene/PForDelta storage "
        "transform: sorted ids -> first id + deltas, the prerequisite "
        "for varint/bit-packed compression that decides index bytes "
        "at 100 TB). Encode and prefix-sum decode both run in the "
        "SAME single pass over the index — roundtrip_ok asserts "
        "decode(encode(p)) == p per term, and the oracle recomputes "
        "the gap lists independently in DuckDB.",
)
def q_gap_encoded_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = idx.build_index(_docs(spark, sf_dir))
    gaps = idx.gap_encode_col(F.col("postings"))
    return index.select(
        "term",
        F.array_join(gaps, ",").alias("gaps_csv"),
        "df",
        (idx.gap_decode_col(gaps) == F.col("postings")).alias("roundtrip_ok"),
    )


# --- Positional index family: phrase + ranked retrieval --------------

_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "positional_index",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    p AS (SELECT doc_id, unnest(toks) AS term,
                 unnest(range(0, len(toks))) AS pos
          FROM t),
    pd AS (SELECT term, doc_id,
                  CAST(doc_id AS VARCHAR) || ':' ||
                  array_to_string(list_sort(list(pos)), '|') AS entry
           FROM p GROUP BY term, doc_id)
    SELECT term,
           array_to_string(list(entry ORDER BY doc_id), ',') AS postings_csv,
           count(*) AS df
    FROM pd GROUP BY term
    """,
    doc="Positional inverted index (term -> per-doc sorted position "
        "lists) — the index shape phrase/proximity queries consume; "
        "the reference's mapper drops positions entirely "
        "(mapper/src/processor.py:190).",
)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    pidx = tq.positional_index(_docs(spark, sf_dir))
    entry = lambda p: F.concat(  # noqa: E731
        p["doc_id"].cast("string"),
        F.lit(":"),
        F.array_join(F.transform(p["positions"], lambda x: x.cast("string")), "|"),
    )
    return pidx.select(
        "term",
        F.array_join(F.transform("postings", entry), ",").alias("postings_csv"),
        "df",
    )


@register(
    "phrase_query",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    hits AS (SELECT doc_id,
                    len(list_filter(range(1, len(toks)),
                        i -> toks[i] = 'sort' AND toks[i+1] = 'merge'))
                    AS n_occurrences
             FROM t)
    SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM hits WHERE n_occurrences > 0
    """,
    doc="Exact-phrase query ('sort merge'): positional-postings "
        "algorithm — per-slot position shift + full-slot-set check at "
        "a start offset; one broadcast join + one aggregate, no "
        "corpus self-join.",
)
def q_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.phrase_query(_docs(spark, sf_dir), ["sort", "merge"])


_BM25_ORACLE = f"""
    WITH tf AS (SELECT doc_id, term, count(*) AS tf
                FROM ({_TF_SQL}) GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    df AS (SELECT term, count(*) AS df FROM tf
           WHERE term IN {_BM25_TERMS!r} GROUP BY term),
    s AS (SELECT tf.doc_id, tf.term,
                 round(round(ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5)), 9)
                       * (tf * {_BM25_K1 + 1!r})
                       / (tf + ({_BM25_K1!r} * ({1 - _BM25_B!r}
                          + (({_BM25_B!r} * dl) / avgdl)))), 9) AS s
          FROM tf
          JOIN dl USING (doc_id)
          JOIN df USING (term)
          CROSS JOIN stats)
    SELECT doc_id,
           round(COALESCE(SUM(CASE WHEN term = '{_BM25_TERMS[0]}' THEN s END), 0)
               + COALESCE(SUM(CASE WHEN term = '{_BM25_TERMS[1]}' THEN s END), 0)
               + COALESCE(SUM(CASE WHEN term = '{_BM25_TERMS[2]}' THEN s END), 0),
                 6) AS bm25
    FROM s GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """


@register(
    "bm25_topk",
    oracle=_BM25_ORACLE,
    doc="Okapi BM25 top-10 for a 3-term query — ranked retrieval over "
        "the tf/df/dl statistics the index pipeline already produces; "
        "scores rounded per-stage and summed in fixed query order for "
        "engine-exact comparison.",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tq.bm25_rank(
        _docs(spark, sf_dir), list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B, k=10
    )


@register(
    "crawl_source_docs",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
    doc="Per-source corpus profile read through the CUSTOM Python "
        "DataSource ('paged_crawl', sources/crawl_source.py) — the "
        "reference's paginated category crawl (S1) as a first-class "
        "Spark connector: one InputPartition per page (Spark "
        "schedules pages as the reference's master scheduled page "
        "fetches, with retry/speculation free), pyarrow reads serve "
        "only the projected columns, and the streaming face keeps "
        "the seen-page cursor as a checkpointed offset (exactly-once "
        "across restarts, 5-run test). Matching the plain-table "
        "oracle proves the connector is lossless.",
)
def q_crawl_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_inverted_index_spark.sources.crawl_source import (
        register_crawl_source,
    )

    register_crawl_source(spark)
    docs = (
        spark.read.format("paged_crawl")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("page_size", "500")
        .load()
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
    )


@register(
    "crawl_sink_roundtrip",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
    doc="K1/K2 sink parity through the connector's WRITE face: the "
        "corpus is written via the custom DataSource's transactional "
        "two-phase commit (executors stage attempt-unique JSONL "
        "pages; the driver publishes an atomic manifest naming "
        "exactly the committed pages — readers never observe a "
        "partial site; abort leaves nothing published, test-proven), "
        "then read back MANIFEST-ONLY and profiled. Matching the "
        "plain-table oracle proves the write-read cycle is lossless. "
        "Module: sources/crawl_source.py (writer face).",
)
def q_crawl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile
    from pathlib import Path

    from mapreduce_inverted_index_spark.sources.crawl_source import (
        read_crawl_site,
        register_crawl_source,
    )

    register_crawl_source(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # one FIXED site dir per sf, recreated each run: repeated catalog
    # sweeps must not accumulate corpus copies in /tmp
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    site = str(Path(tempfile.gettempdir()) / f"mii_crawl_sink_{tag}")
    shutil.rmtree(site, ignore_errors=True)
    (
        docs.repartition(8)
        .write.format("paged_crawl")
        .option("path", site)
        .mode("append")
        .save()
    )
    return read_crawl_site(spark, site).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
    )


@register(
    "suffix_query_index",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           count(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv
    FROM pairs WHERE term LIKE '%er' GROUP BY term
    """,
    doc="Trailing-wildcard probe (*er) over the REVERSED-key index "
        "tier: reverse(term) LIKE 'gn%' pushes down as "
        "StringStartsWith on the bucketBy/sortBy(rterm) layout "
        "(plan-audited), so a suffix probe row-group-skips exactly "
        "like the prefix probe — against the forward layout a "
        "leading wildcard scans every term. One extra copy of the "
        "term-keyed index buys the whole *suffix query class. "
        "Operators: term_queries.write_reversed_index/suffix_query.",
)
def q_suffix_query_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    # pid in BOTH the path and the table-name prefix (the
    # q_smb_join_lineitem_orders convention): a concurrent
    # pytest/bench process must not overwrite the store mid-scan,
    # and a table name shared across processes would point at
    # another pid's deleted /tmp location
    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}_{os.getpid()}"
    path = f"{work_root()}/mii_ridx_{tag}"
    rtable = tq.write_reversed_index(
        idx.build_index(_docs(spark, sf_dir)), path, buckets=8,
        prefix=f"mii_{tag}",
    )
    return tq.suffix_query(spark, rtable, "er").select(
        "term", "df", F.array_join("postings", ",").alias("postings_csv")
    )


@register(
    "colocated_doc_tf_norm",
    oracle=f"""
    WITH tfp AS ({_TF_SQL}),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM tfp GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           FROM tf GROUP BY doc_id)
    SELECT tf.doc_id, term, tf, dl,
           CAST(FLOOR(tf * 1000000.0 / dl) AS BIGINT) AS ntf_ppm
    FROM tf JOIN dl ON tf.doc_id = dl.doc_id
    """,
    doc="Doc-keyed co-located bucket tier (the doc_id-axis mirror of "
        "term_lookup_bucketed and the orderkey SMB fact pair): the "
        "(doc_id, term, tf) table and the per-doc length table are "
        "written bucketBy(16, doc_id)/sortBy(doc_id) with EQUAL "
        "bucket counts, so BM25-style tf x dl normalization — and "
        "every future doc-keyed join over these facts — reads "
        "pre-partitioned, pre-sorted buckets with ZERO Exchange in "
        "the whole plan (pytest-asserted: not even the rollup's, "
        "because dl is precomputed at write time). Both tables pay "
        "their doc_id shuffle once at write; at 100 TB scoring runs "
        "stop re-shuffling the (doc, term) fact ever again. "
        "ntf_ppm = floor(tf*1e6/dl): integer-exact cross-engine "
        "(IEEE division correctly rounded; quotients stay > 1/dl "
        "away from integers unless exactly representable). "
        "Operator: inverted_index.write_doc_tables.",
)
def q_colocated_doc_tf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    # pid in path AND table names (the q_smb_join_lineitem_orders
    # convention); the guard checks both tables so a crash between
    # the two writes can't strand a half-built pair
    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}_{os.getpid()}"
    base = f"{work_root()}/mii_dtab_{tag}"
    prefix = f"mii_{tag}"
    tf_name = f"{prefix}_dtf_b16"
    dlen_name = f"{prefix}_dlen_b16"
    if not (
        spark.catalog.tableExists(tf_name)
        and spark.catalog.tableExists(dlen_name)
    ):
        tf_name, dlen_name = idx.write_doc_tables(
            _docs(spark, sf_dir), base, buckets=16, prefix=prefix
        )
    tf = spark.table(tf_name)
    dl = spark.table(dlen_name)
    # merge hint pins the SMB shape at every SF (AQE would broadcast
    # the small side at fixture scale, hiding the property under test)
    return (
        tf.hint("merge")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "term",
            "tf",
            "dl",
            F.floor(F.col("tf") * 1000000.0 / F.col("dl"))
            .cast("bigint")
            .alias("ntf_ppm"),
        )
    )


@register(
    "term_lookup_store_pruned",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs WHERE term IN ('{_T1}', '{_T2}', '{_T3}') GROUP BY term
    """,
    doc="Exact term probe over the PARTITIONED index store (the "
        "write_index_store layout the streaming takedown queue "
        "maintains), served with no Spark job: the driver hashes the "
        "probe terms to their buckets, reads ONLY those buckets' "
        "manifest-named files with pyarrow, filtered to the probe "
        "terms, and returns the rows as a LocalTableScan (pytest "
        "pins the files read and the zero jobs) — the "
        "directory-layout twin of term_lookup_bucketed's bucketed-"
        "TABLE probe, and the lookup story for the store the "
        "maintenance loops actually write. "
        "Operator: inverted_index.term_lookup_store.",
)
def q_term_lookup_store_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    path = f"{work_root()}/mii_pstore_{tag}"
    if not os.path.isdir(path):
        idx.write_index_store(idx.build_index(_docs(spark, sf_dir)), path)
    return idx.term_lookup_store(spark, path, [_T1, _T2, _T3]).select(
        "term", F.array_join("postings", ",").alias("postings_csv"), "df"
    )


@register(
    "index_store_merge_docs",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT term,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv,
           count(*) AS df
    FROM pairs GROUP BY term
    """,
    doc="Bucket-local ADD on the partitioned index store: the store "
        "is built from two thirds of the corpus, then the remaining "
        "third's delta index folds in via merge_into_index_store — "
        "only the bucket partitions the delta's terms hash into "
        "rewrite (crash-safe dir swap; untouched dirs keep exact "
        "files, pytest-pinned). Oracle = the flagship index over the "
        "WHOLE corpus, so a green row proves "
        "merge_store(build(2/3), build(1/3)) == build(all) — the "
        "ADD half of the store lifecycle whose DELETE half is "
        "stream_takedown_queue. "
        "Operator: inverted_index.merge_into_index_store.",
)
def q_index_store_merge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = _docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="mii_storemerge_", dir=work_root())
    path = f"{work}/store"
    idx.write_index_store(
        idx.build_index(docs.where(F.col("doc_id") % 3 != 0)), path
    )
    idx.merge_into_index_store(
        spark, path, idx.build_index(docs.where(F.col("doc_id") % 3 == 0))
    )
    out = (
        idx.read_index_store(spark, path)
        .select(
            "term",
            F.array_join("postings", ",").alias("postings_csv"),
            "df",
        )
        # pin the result in executor blocks so the per-call work dir
        # can be removed (the stream_takedown_queue discipline)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


@register(
    "bm25_topk_colocated",
    oracle=_BM25_ORACLE,
    doc="BM25 top-10 over the doc-keyed co-located bucket tier — the "
        "production form of bm25_topk at 100 TB: tf and dl come from "
        "the write_doc_tables pair (bucketBy(16, doc_id)/sortBy both "
        "sides), so the qtf x dl score join — the per-query doc-axis "
        "shuffle the plain form pays — runs with NO doc_id Exchange "
        "(pytest-audited; the only exchanges left are the tiny "
        "query-sized df/stats aggregates), and the corpus is never "
        "tokenized at query time. Same oracle as bm25_topk: the tier "
        "changes the plan, never the scores. "
        "Operators: term_queries.bm25_rank(tf=, dl=) + "
        "inverted_index.write_doc_tables.",
)
def q_bm25_topk_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}_{os.getpid()}"
    base = f"{work_root()}/mii_dtab_{tag}"
    prefix = f"mii_{tag}"
    tf_name, dlen_name = f"{prefix}_dtf_b16", f"{prefix}_dlen_b16"
    if not (
        spark.catalog.tableExists(tf_name)
        and spark.catalog.tableExists(dlen_name)
    ):
        tf_name, dlen_name = idx.write_doc_tables(
            _docs(spark, sf_dir), base, buckets=16, prefix=prefix
        )
    return tq.bm25_rank(
        _docs(spark, sf_dir),
        list(_BM25_TERMS),
        k1=_BM25_K1,
        b=_BM25_B,
        k=10,
        tf=spark.table(tf_name),
        dl=spark.table(dlen_name),
    )
