"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, and document fingerprinting.

All pure builtin-expression code (codegen'd, no Python in the row
path), and all SQL-expressible — every operator here has a DuckDB
oracle twin, unlike the LSH family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.functions.stopwords import (
    stopwords_spark_in_list,
)
from mapreduce_inverted_index_spark.functions.text import normalize_text, terms, tokenize

__all__ = [
    "LANG_MARKERS",
    "language_id",
    "token_stats",
    "quality_profile",
    "fingerprints",
    "PII_PATTERNS",
    "redact_pii",
    "sql_redact_pii",
    "pii_stats",
    "repetition_profile",
    "lm_unigram_scores",
    "lm_bigram_scores",
    "build_vocab",
    "encode_docs",
    "distribution_divergence",
    "token_entropy",
    "hashed_classifier_scores",
    "vocab_growth_curve",
    "bpe_symbol_expr",
    "bpe_train",
    "bpe_encode",
    "skipgram_pairs",
]

# Tiny embedded marker-word lists (top function words per language).
# A production language-ID model would be a char-n-gram classifier;
# the *operator shape* — per-language evidence counts → argmax with a
# deterministic tie-break — is identical, which is what the engine
# provides. Ordered dict: ties break toward the first entry.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "and", "is", "of", "to", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "con"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans"),
}

# BPE-ish token pieces: letter runs, digit runs, single other symbols.
TOKEN_PIECE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _marker_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: per-language evidence counts and an
    argmax prediction ('und' — undetermined — when no marker hits).

    Output: ``doc_id, hits_de, hits_en, hits_es, hits_fr,
    pred_lang``. Tie-break: language code ascending (deterministic).
    """
    toks = tokenize("text")
    d = docs.select(F.col("doc_id").alias("doc_id"), toks.alias("toks"))
    hit_cols = {lang: _marker_hits(F.col("toks"), ws) for lang, ws in LANG_MARKERS.items()}
    out = d.select(
        "doc_id", *[c.alias(f"hits_{lang}") for lang, c in hit_cols.items()]
    )
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = tie-break order
        pred = pred.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return out.withColumn("pred_lang", pred)


def token_stats(docs: DataFrame) -> DataFrame:
    """Token-count profile per document.

    Output: ``doc_id, n_tokens`` (whitespace tokens), ``n_terms``
    (distinct non-stopword), ``n_pieces`` (BPE-ish regex pieces),
    ``est_bpe_tokens`` (chars/4 heuristic), ``stopword_ratio``,
    ``type_token_ratio`` (both rounded, NULL-safe for empty docs).
    """
    toks = tokenize("text")
    d = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.col("text").alias("text"),
        toks.alias("toks"),
        terms("text").alias("trm"),
    )
    n_tokens = F.size("toks")
    # ONE SQL string instead of 179 per-word py4j lit calls (r14, the
    # r13 terms() fix applied to this site); same filter-then-size
    # tree, same In→InSet fold.
    n_stop = F.expr(
        "size(filter(toks, t -> t IN (" + stopwords_spark_in_list() + ")))"
    )
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        F.size("trm").cast("int").alias("n_terms"),
        F.regexp_count(F.col("text"), F.lit(TOKEN_PIECE_REGEX)).cast("int").alias("n_pieces"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("est_bpe_tokens"),
        F.when(n_tokens > 0, F.round(n_stop.cast("double") / n_tokens, 6)).alias("stopword_ratio"),
        F.when(
            n_tokens > 0,
            F.round(F.size(F.array_distinct("toks")).cast("double") / n_tokens, 6),
        ).alias("type_token_ratio"),
    )


def quality_profile(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0, 1] per document — the standard
    pre-training filter features (length band, mean word length,
    lexical diversity, alpha ratio) combined with fixed weights.

    Output: ``doc_id, n_chars_obs, mean_word_len, alpha_ratio,
    lex_diversity, quality_score, is_quality``.
    """
    toks = tokenize("text")
    d = docs.select(
        F.col("doc_id").alias("doc_id"), F.col("text").alias("text"), toks.alias("toks")
    )
    n_tokens = F.size("toks")
    n_chars = F.length("text")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", ""))
    mean_wl = F.when(
        n_tokens > 0,
        F.round(F.aggregate("toks", F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_tokens, 6),
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, F.round(alpha_chars.cast("double") / n_chars, 6)).otherwise(F.lit(0.0))
    lex_div = F.when(
        n_tokens > 0,
        F.round(F.size(F.array_distinct("toks")).cast("double") / n_tokens, 6),
    ).otherwise(F.lit(0.0))
    len_band = (
        F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(1.0))
        .when(n_tokens > 0, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    score = F.round(
        0.3 * len_band + 0.3 * alpha_ratio + 0.2 * lex_div
        + 0.2 * F.least(mean_wl / F.lit(8.0), F.lit(1.0)),
        6,
    )
    return d.select(
        "doc_id",
        n_chars.cast("int").alias("n_chars_obs"),
        mean_wl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        lex_div.alias("lex_diversity"),
        score.alias("quality_score"),
        (score >= 0.6).alias("is_quality"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprints: whole-content md5 + a shift-resistant
    char-n-gram min-hash (winnowing-style: the minimum md5 over all
    character 5-grams of the normalized text — stable under content
    reordering/prepending, unlike the whole-content hash).

    Output: ``doc_id, content_md5, min_gram_md5``.
    """
    norm = F.regexp_replace(F.trim(normalize_text("text")), r"\s+", " ")
    d = docs.select(F.col("doc_id").alias("doc_id"), norm.alias("norm"))
    # n-grams via zip_with over shifted char slices — NOT
    # transform(sequence, i -> substring(norm, i, g)): an outer alias
    # referenced inside a lambda gets its defining expression inlined
    # and re-evaluated per element (see word_shingles).
    chars = F.split(F.col("norm"), "")
    m = F.greatest(F.length("norm") - 4, F.lit(0))
    acc = F.slice(chars, 1, m)
    for k in range(1, 5):
        acc = F.zip_with(acc, F.slice(chars, k + 1, m), lambda a, b: F.concat(a, b))
    grams = F.when(F.length("norm") >= 5, acc).otherwise(F.array(F.col("norm")))
    return d.select(
        "doc_id",
        F.md5("norm").alias("content_md5"),
        F.array_min(F.transform(grams, F.md5)).alias("min_gram_md5"),
    )


# --- PII redaction ---------------------------------------------------
#
# Training-data scrubbing: structured-identifier patterns replaced by
# typed placeholder tokens. Patterns are RE2-compatible (no backrefs
# or lookaround), so the identical pattern text runs on Spark's Java
# regex and the DuckDB oracle. Order matters: emails first (their
# local parts contain digits a later phone pattern could eat), the
# generic phone pattern last.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    # the optional '+' sits BEFORE the word boundary: '+' is a
    # non-word char, so '\b\+' can never match after a space
    ("phone", r"\+?\b\d[\d().-]{6,12}\d\b", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace email / IPv4 / SSN-shaped / phone-shaped substrings
    with typed placeholders — a pure regexp cascade (codegen'd, no
    Python, no shuffle impact)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def sql_redact_pii(text_expr: str) -> str:
    """DuckDB twin of :func:`redact_pii` (same patterns, RE2)."""
    e = text_expr
    for _, pat, repl in PII_PATTERNS:
        esc = pat.replace("'", "''")
        e = f"regexp_replace({e}, '{esc}', '{repl}', 'g')"
    return e


def pii_stats(docs: DataFrame) -> DataFrame:
    """Per-document PII profile: match count per pattern family, the
    redacted-text md5, and a changed flag. Output: ``doc_id,
    n_email, n_ipv4, n_ssn, n_phone, redacted_md5, was_redacted``."""
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = redact_pii("text")
    return docs.select(
        F.col("doc_id").alias("doc_id"),
        *counts,
        F.md5(red).alias("redacted_md5"),
        (red != F.col("text")).alias("was_redacted"),
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Repetition heuristics (the Gopher/MassiveText-style filters):
    per-doc duplicate-token ratio and top-bigram frequency ratio —
    boilerplate and degenerate repetition score high on both.

    Token stats come straight off the token array (no explode);
    the bigram histogram explodes NON-distinct bigrams (repetition is
    exactly what dedup'd shingles erase) through two narrow
    aggregations keyed by doc_id. Output: ``doc_id, n_tokens,
    dup_token_ratio, top_bigram_ratio`` (ratios NULL for empty/
    sub-bigram docs).
    """
    toks = tokenize("text")
    d = docs.select(F.col("doc_id").alias("doc_id"), toks.alias("toks"))
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.zip_with(
            F.slice("toks", 1, m),
            F.slice("toks", 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bc = (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    bstat = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("max_bigram")
    )
    base = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.when(
            F.size("toks") > 0,
            F.round(
                1.0
                - F.size(F.array_distinct("toks")).cast("double")
                / F.size("toks"),
                6,
            ),
        ).alias("dup_token_ratio"),
    )
    return base.join(bstat, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "dup_token_ratio",
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                F.col("max_bigram").cast("double") / F.col("n_bigrams"), 6
            ),
        ).alias("top_bigram_ratio"),
    )


def lm_unigram_scores(
    docs: DataFrame,
) -> DataFrame:
    """Per-document corpus-LM quality score: average negative log
    probability per token under an add-one-smoothed unigram model of
    the corpus itself — the perplexity-proxy filter of a CCNet-style
    pipeline (score high = doc looks unlike the corpus; real
    deployments train the LM on a trusted corpus and score the
    candidate one, which is the same plan with a second input).

    Output: ``doc_id, n_tokens, neg_logprob_per_tok`` where the
    score is ``ln(N + V) - (Σ_t tf_t · ln(c_t + 1)) / n`` (c_t =
    corpus count; N = corpus tokens; V = vocabulary).

    Engine-stability discipline (the oracle_compat pattern applied
    to transcendentals): each ``ln`` is computed once per DISTINCT
    value, rounded to 9 decimals, and cast DECIMAL(18,9) BEFORE any
    aggregation — sums of decimals are exact and order-independent,
    so cross-engine agreement doesn't depend on float summation
    order, and the final double division/subtraction operates on
    exactly-representable scaled integers (< 2^53).

    Plan: the (doc_id, term, tf) table feeds the LM build, the
    corpus scalars, and the per-doc rollup — persisted (the
    ``bm25_rank`` lesson; at 100 TB read it from the materialized
    index tf table). LM and scalars broadcast; the corpus-side
    stream never shuffles except the one per-doc aggregate.
    """
    from mapreduce_inverted_index_spark.operators.inverted_index import (
        doc_term_freq,
    )

    tf = doc_term_freq(docs).persist()
    lm = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("c"))
        .select(
            "term",
            F.round(F.ln(F.col("c") + 1), 9).cast("decimal(18,9)").alias("lp"),
        )
    )
    z = tf.agg(
        F.sum("tf").alias("_n"), F.countDistinct("term").alias("_v")
    ).select(
        F.round(F.ln(F.col("_n") + F.col("_v")), 9)
        .cast("decimal(18,9)")
        .alias("lnz")
    )
    per_doc = (
        tf.join(F.broadcast(lm), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            # tf as DECIMAL(9,0), not bigint: bigint x (18,9) needs
            # precision 39 > 38, which Spark silently truncates to
            # scale 8 while DuckDB keeps scale 9 (the tfidf lesson);
            # (9,0) x (18,9) stays exact at (28,9) in both engines.
            F.sum(F.col("tf").cast("decimal(9,0)") * F.col("lp")).alias("_s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(z)).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("lnz").cast("double")
            - F.col("_s").cast("double") / F.col("n_tokens"),
            6,
        ).alias("neg_logprob_per_tok"),
    )


def build_vocab(
    docs: DataFrame,
) -> DataFrame:
    """Frequency-ranked vocabulary: ``term, n_occ, token_id`` with
    ids dense 0.. by (frequency desc, term asc) — the deterministic
    tokenizer artifact (BPE and friends differ in the merge rule,
    not this shape: count → rank → id table).

    The ranking window runs over DISTINCT TERMS — vocabulary-sized
    (≲ millions), orders of magnitude below corpus size — so the
    single final window task is fine here even though it would not
    be on the corpus (same reasoning as ``layout.grid_cells``'
    histogram window).
    """
    counts = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_occ"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occ"), F.asc("term"))
    vocab = counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("int")
    )
    return vocab


def encode_docs(
    docs: DataFrame,
) -> DataFrame:
    """Token-id encoding: each document's token stream as an INT
    ARRAY under the corpus's own broadcast vocabulary
    (:func:`build_vocab`) — the array the trainer actually consumes
    (`pack_sequences` upstream budget-counts it; this materializes
    it). Output: ``doc_id, n_tokens, token_ids``.

    Shape at scale: tokens carry their position through a BROADCAST
    vocab join (the corpus never shuffles to look up ids), then one
    groupBy collects ``(pos, id)`` structs and ``array_sort`` +
    ``transform`` rebuilds the ordered id array — shuffle rows are
    pure ints (doc_id, pos, id); token text never leaves the map
    side. Order correctness does NOT rely on collect_list internal
    ordering: the sort is explicit on the carried position.
    """
    vocab = build_vocab(docs)
    tok = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.posexplode(tokenize("text")).alias("pos", "term"),
    )
    enc = tok.join(F.broadcast(vocab.select("term", "token_id")), "term").select(
        "doc_id",
        "pos",
        F.col("token_id").cast("int").alias("tid"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda x: x["tid"],
            ).alias("token_ids"),
        )
    )


def distribution_divergence(
    docs: DataFrame,
    part_col: Column,
) -> DataFrame:
    """Hellinger distance between the token distributions of two
    corpus partitions — the distribution-shift monitor a training
    pipeline runs between crawl snapshots, data sources, or a
    candidate mix and its reference mix.

        H²(P, Q) = ½ Σ_t (√p_t − √q_t)²,   H ∈ [0, 1]

    Hellinger, not KL: it is symmetric, bounded, defined when a
    term is absent from one side (KL needs smoothing there), and —
    the engine-portability point — needs only ``sqrt``, which IEEE
    754 requires to be correctly rounded in every engine, where
    ``ln``/``pow`` are not (see ``lm_unigram_scores`` for the
    rounds-before-sum discipline ``ln`` forces).

    Exactness: per-term counts and totals are exact BIGINTs; each
    term's contribution is a fixed chain of correctly-rounded IEEE
    ops (two divides, two sqrts, subtract, square) on identical
    operands in any engine, then quantized to the 1e-12 grid with
    ``floor(x·1e12 + 0.5)`` (the repo's cross-engine quantizer —
    ``round()`` tie rules differ between engines) and summed as
    BIGINT — exact and order-independent. Only the final ÷2e12 and
    √ happen in double.

    Plan: one explode + one partial-agg groupBy(term) with both
    sides' counts as conditional sums (ONE pass — no per-side scan,
    no join of two aggregates), then a broadcast of the single-row
    totals. ``part_col`` is any boolean expression over the doc row.

    Output (one row): ``n_terms, tok_a, tok_b, hellinger_sq,
    hellinger``.
    """
    from mapreduce_inverted_index_spark.functions.text import terms

    tok = docs.select(
        part_col.alias("_in_a"),
        F.explode(terms("text", keep_duplicates=True)).alias("term"),
    )
    cnt = tok.groupBy("term").agg(
        F.sum(F.when(F.col("_in_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("_in_a"), 0).otherwise(1)).alias("nb"),
    )
    tot = cnt.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    diff = F.sqrt(F.col("na").cast("double") / F.col("ta").cast("double")) - F.sqrt(
        F.col("nb").cast("double") / F.col("tb").cast("double")
    )
    q = F.floor(diff * diff * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    agg = (
        cnt.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").alias("n_terms"),
            F.max("ta").alias("tok_a"),
            F.max("tb").alias("tok_b"),
            F.sum(q).alias("_h2p"),
        )
    )
    h2 = F.col("_h2p").cast("double") / F.lit(2e12)
    return agg.select(
        "n_terms",
        "tok_a",
        "tok_b",
        F.round(h2, 9).alias("hellinger_sq"),
        F.round(F.sqrt(h2), 9).alias("hellinger"),
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Shannon entropy (nats) of the corpus token distribution, plus
    the normalized form — the vocabulary-diversity health metric a
    curation pipeline tracks across snapshots (entropy collapsing =
    boilerplate/spam flooding the mix; rising toward ln V = healthy
    diversity).

        H = ln N − (Σ_t c_t · ln c_t) / N,   H_norm = H / ln V

    Engine-stability: the ``lm_unigram_scores`` transcendental
    discipline — each ``ln c`` is computed once per DISTINCT count,
    rounded to 9 decimals, cast DECIMAL(18,9) BEFORE aggregation;
    ``c`` multiplies as DECIMAL(12,0) so products stay exact at
    (31,9) (never Spark's precision-39 loss path) and the sum is
    order-independent. The final ln N / ln V terms are single
    rounded-then-combined doubles. One explode + one partial-agg
    groupBy(term) + a 1-row rollup.

    Output (one row): ``n_tokens, n_terms, entropy, entropy_norm``.
    """
    from mapreduce_inverted_index_spark.functions.text import terms

    cnt = (
        docs.select(F.explode(terms("text", keep_duplicates=True)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("_c"))
    )
    per_term = F.col("_c").cast("decimal(12,0)") * F.round(
        F.ln("_c"), 9
    ).cast("decimal(18,9)")
    agg = cnt.agg(
        F.sum("_c").alias("n_tokens"),
        F.count("*").alias("n_terms"),
        F.sum(per_term).alias("_s"),
    )
    h = F.round(F.ln("n_tokens"), 9) - F.col("_s").cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    return agg.select(
        "n_tokens",
        "n_terms",
        F.round(h, 6).alias("entropy"),
        F.round(h / F.round(F.ln("n_terms"), 9), 6).alias("entropy_norm"),
    )


def hashed_classifier_scores(
    docs: DataFrame,
    n_buckets: int = 1024,
) -> DataFrame:
    """fastText-style linear text-classifier INFERENCE as pure
    relational plumbing — the shape of the quality/toxicity
    classifiers that gate documents into a pretraining mix:

        token → hashed feature bucket → broadcast weight lookup →
        per-doc margin sum → threshold.

    The hashing trick (Weinberger et al. 2009) makes the feature
    space a fixed ``n_buckets`` regardless of vocabulary, so the
    weight table is a small broadcastable dimension (kilobytes for
    2^20 buckets) and scoring 100 TB of text is one scan + one
    broadcast hash join + one partial-agg groupBy — no shuffle of
    tokens, no vocabulary build, no Python in the row path.

    The weights are a ``(bucket BIGINT, w_milli BIGINT)`` table — in
    real use the trained weights, loaded and broadcast exactly as
    here. This one is a deterministic synthetic stand-in
    (Knuth-multiplicative spread of the bucket id onto a
    [-1000, 1000] milli grid) so the operator is oracle-checkable:
    integer milli-weights make margins EXACT bigint sums in any
    engine under any partitioning/order. The bucket hash is
    md5-based (the repo's cross-engine hash; xxhash64 is
    Spark-only).

    Docs whose token list is empty produce no output row (no
    features → no score), matching the SQL GROUP BY twin.

    Output: ``doc_id, n_tokens, margin DOUBLE (exact at 3
    decimals), quality_pass BOOLEAN (margin > 0)``.
    """
    weights = docs.sparkSession.range(n_buckets).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 2001 - 1000).alias("w_milli"),
    )
    toks = docs.select(
        F.col("doc_id"),
        F.explode(terms("text", keep_duplicates=True)).alias("term"),
    )
    feats = toks.withColumn(
        "bucket",
        F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("bigint")
        % n_buckets,
    )
    scored = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w_milli").alias("_mm"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (F.col("_mm").cast("double") / F.lit(1000.0)).alias("margin"),
        (F.col("_mm") > 0).alias("quality_pass"),
    )


def vocab_growth_curve(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary growth: after ingesting docs in id
    order, how many tokens have been seen and how many DISTINCT
    terms — the curve whose flattening (or refusal to flatten)
    tells a corpus-curation pipeline whether new data still adds
    vocabulary or is recycling the same material.

    Distribution shape: "is this term NEW at doc d" needs no
    ordered scan — a term is new exactly at ``min(doc_id)`` over
    its postings (one groupBy). That reduces the curve to two
    running sums over the doc axis (tokens per doc, first-seen
    terms per doc), each a :func:`~mapreduce_inverted_index_spark.
    operators.prefix.bucketed_prefix_sum` — parallel per-bucket
    windows, never the single-partition global window (which the
    DuckDB oracle IS).

    Output per doc: ``doc_id, n_tokens, n_new_terms, tokens_seen,
    vocab_size`` (all BIGINT, exact; zero-token docs carry zeros
    and their cumulative values unchanged).
    """
    from mapreduce_inverted_index_spark.operators.prefix import (
        bucketed_prefix_sum,
    )

    # tf feeds the per-doc token counts AND the term-novelty groupBy
    # on DIFFERENT keys (doc_id vs term — no shared Exchange), so
    # unpersisted the tokenize pass ran twice (the bm25_rank
    # discipline). LRU-evicted; clearCache drops it.
    tf = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.explode(terms("text", keep_duplicates=True)).alias("term"),
    ).persist()
    per_doc = tf.groupBy("doc_id").agg(F.count("*").alias("_nt"))
    first_doc = tf.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
    new_per_doc = first_doc.groupBy("doc_id").agg(
        F.count("*").alias("_nv")
    )
    base = (
        docs.select(F.col("doc_id").alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_nt", F.lit(0)).alias("n_tokens"),
            F.coalesce("_nv", F.lit(0)).alias("n_new_terms"),
        )
    )
    # ONE bucketed pass carries both axes (the `also` form): one
    # equi-depth sketch, one per-bucket window sort evaluating both
    # sums, one two-total ledger — the former two chained calls paid
    # each of those twice.
    cum = bucketed_prefix_sum(
        base,
        "doc_id",
        ["doc_id"],
        "n_tokens",
        "tokens_seen",
        also=[("n_new_terms", "vocab_size")],
    )
    return cum.select(
        "doc_id", "n_tokens", "n_new_terms", "tokens_seen", "vocab_size"
    )


def bpe_symbol_expr(tok_col, merges: list[tuple[str, str]]):
    """The BPE ENCODE step as a pure string expression: apply an
    ordered merge list to one token, returning its symbol string.

    Encoding trick (the whole operator): a token's symbol sequence is
    a double-comma-delimited string (``",,a,,b,,c,,"``), and ONE
    greedy left-to-right BPE merge pass of pair (a, b) is EXACTLY a
    literal ``replace(s, ",a,,b,", ",ab,")`` — replace() consumes
    matches left-to-right without overlap, the consumed leading/
    trailing single commas come out of the neighbors' DOUBLE
    separators (so adjacent matches still fire: ``a,b,a,b`` merges
    twice), and the trailing comma in the pattern anchors the full
    second symbol (pair (a, b) cannot eat the prefix of a ``bc``
    symbol). That makes the encode a chain of k codegen'd replaces —
    no UDF, no per-row loop, and DuckDB's replace() has identical
    semantics, so the oracle replays it verbatim.

    Merges must be applied in learned order (standard BPE); the
    merge list is a LITERAL (vocab-sized, known at plan time), so the
    fold unrolls into the expression tree.
    """
    s = F.concat(
        F.lit(",,"),
        F.concat_ws(",,", F.array_remove(F.split(tok_col, ""), "")),
        F.lit(",,"),
    )
    for a, b in merges:
        s = F.replace(s, F.lit(f",{a},,{b},"), F.lit(f",{a}{b},"))
    return s


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
) -> DataFrame:
    """BPE tokenizer TRAINING: iterate the ``bpe_merge_step`` rule
    ``n_merges`` rounds and emit the learned merge table —
    ``step, left_sym, right_sym, pair_count`` — the artifact
    :func:`bpe_encode` consumes (``bpe_encode(docs,
    bpe_train(docs))`` is the closed tokenizer loop, roundtrip-
    pytest-pinned).

    Distribution shape (the reason distributed BPE training scales
    where a single-node pair counter can't hold a web corpus's
    tables): train on the DISTINCT-token frequency table, not token
    occurrences — classic BPE's word-frequency formulation. State per
    round is one row per distinct token: ``(tok, n, s)`` where ``s``
    is the double-comma symbol string of :func:`bpe_symbol_expr`.
    Each round is

    1. one explode+groupBy pass counting adjacent symbol pairs
       weighted by token frequency (map-side combined; overlapping
       pairs count, matching ``bpe_merge_step``),
    2. a ONE-ROW driver read of the argmax pair (count DESC, then
       (left, right) ASC — the deterministic greedy tiebreak; a
       planning read like PageRank's convergence check, never a data
       collect),
    3. one codegen'd ``replace()`` applying the merge to every
       symbol string (the same left-to-right non-overlapping pass
       semantics ``bpe_encode`` replays),

    with per-round lineage truncation (the PageRank discipline,
    ``localCheckpoint``).
    Training stops early if no pair remains.

    The truncation is LAZY and placed at the TOP of each round, so
    one job per round does everything: the argmax pass materializes
    the pending replace into the checkpoint cache while it
    aggregates pair counts (localCheckpoint backfills any partition
    the job's pushdown skipped at job end). The r13 profile of the
    previous shape — eager checkpoint after the replace, then the
    next round's argmax re-reading the cache — showed 2 driver jobs
    per round and a dead final-round replace job (its result feeds
    nothing: the merge table is already on the driver); at fixture
    scale the loop was driver-bound (10.5 s wall vs 0.8 s of
    parallel executor work), so halving the job count halves the
    query. At corpus scale the fusion also removes one cache-read
    pass over the distinct-token table per round.

    The returned merge table is driver-materialized by construction
    (k rows — it IS the artifact you broadcast to encoders).
    """
    from mapreduce_inverted_index_spark.functions.text import tokenize
    from mapreduce_inverted_index_spark.operators.checkpointing import (
        truncate_lineage,
    )

    spark = docs.sparkSession
    sym = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "tok",
            "n",
            F.concat(
                F.lit(",,"),
                F.concat_ws(",,", F.array_remove(F.split("tok", ""), "")),
                F.lit(",,"),
            ).alias("s"),
        )
    )
    current = sym
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        current = truncate_lineage(current, eager=False)
        syms = F.array_remove(
            F.split(F.regexp_replace("s", "^,+|,+$", ""), ",,"), ""
        )
        top = (
            current.select("n", syms.alias("syms"))
            .where(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["pair_count"])
        merges.append((step, a, b, cnt))
        current = current.withColumn(
            "s", F.replace("s", F.lit(f",{a},,{b},"), F.lit(f",{a}{b},"))
        )
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, pair_count bigint",
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned BPE merge list to every token occurrence of
    every document — the ENCODE half of the tokenizer tier
    (``bpe_merge_step`` is the LEARN half; training = iterate learn,
    then ship the merge list here). Output: ``doc_id, tok,
    symbols ARRAY<STRING>, n_symbols`` — one row per token
    OCCURRENCE (duplicates kept: encoding is per-occurrence work).

    Scale shape: one explode + a chain of per-row string replaces
    (whole-stage codegen, zero shuffles, zero joins — the merge list
    rides inside the expression tree like a broadcast literal). At
    100 TB this is the embarrassingly parallel pass BPE encoding is
    supposed to be.
    """
    from mapreduce_inverted_index_spark.functions.text import tokenize

    sym = bpe_symbol_expr(F.col("tok"), merges)
    return (
        docs.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(tokenize("text")).alias("tok"),
        )
        .withColumn(
            "symbols",
            F.array_remove(
                F.split(F.regexp_replace(sym, "^,+|,+$", ""), ",,"), ""
            ),
        )
        .withColumn("n_symbols", F.size("symbols").cast("int"))
    )


def lm_bigram_scores(
    docs: DataFrame, broadcast_max_rows: int = 1_000_000
) -> DataFrame:
    """Per-document interpolated BIGRAM-LM quality score — the
    next-order upgrade of :func:`lm_unigram_scores` (a CCNet-style
    perplexity-proxy filter; unigram models can't see word-order
    degeneracy, a bigram model scores "the the the the" as the
    garbage it is). Score = average negative log of
    ``0.75 * P_ml(w|prev) + 0.25 * P_add1(w)`` over the document's
    token bigrams; higher = less corpus-like.

    Engine-stability discipline (the ``lm_unigram_scores`` pattern
    one order up): the interpolated probability is a deterministic
    double expression of integer counts (IEEE division/multiply are
    exactly reproducible cross-engine), its ``ln`` is computed once
    per DISTINCT corpus bigram, rounded to 9 decimals and cast
    DECIMAL(18,9) BEFORE aggregation — per-doc decimal sums are exact
    and order-independent under any partitioning/retry.

    Plan: one explode builds the per-doc bigram stream from adjacent
    array slots (no window, no shuffle); bigram/unigram count tables
    aggregate map-side; the only corpus-wide shuffle is the per-doc
    rollup. Docs with fewer than two tokens emit ``n_bigrams = 0``
    with a NULL score.

    Join-route gate (the ``semantic_incremental_dedup`` discipline): a
    bounded probe of the bigram count against ``broadcast_max_rows``
    decides whether the LM (and the two vocabulary-sized unigram dims
    inside it) broadcast or shuffle-hash-join on ``(prev, w)``. A
    ship-a-trusted-LM deployment (CCNet-style) is
    executor-memory-bounded and broadcasts; but the operator as
    written induces its LM from the INPUT corpus, and a web-scale
    corpus's bigram table is not broadcast-sized — above the
    threshold every LM join falls back to a plain shuffle join, with
    results identical on both routes (pytest reaches the shuffle route
    with ``broadcast_max_rows=0`` and pins equality; the
    per-distinct-bigram decimal rounding makes the score
    order-independent, so the route never leaks into values).

    Output: ``doc_id, n_bigrams, nll_per_bigram``.
    """
    from mapreduce_inverted_index_spark.functions.text import tokenize

    base = docs.select(F.col("doc_id").alias("doc_id"), tokenize("text").alias("toks"))
    # the tokenized corpus feeds FOUR branches (route probe, unigram
    # counts, bigram stream, final per-doc left join) — unpersisted,
    # each branch re-runs the tokenize scan (the bm25_rank tf
    # persist discipline; LRU-evicted, clearCache drops it;
    # at 100 TB read a materialized tokens table instead)
    base = base.persist()
    bi = base.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2), "
                "i -> struct(toks[i] AS prev, toks[i + 1] AS w))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.prev").alias("prev"), F.col("b.w").alias("w"))

    uni = base.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count("*").alias("c1")
    )
    z = uni.agg(
        F.sum("c1").alias("_n"), F.count("*").alias("_v")
    ).select(
        F.col("_n").cast("double").alias("n_corpus"),
        F.col("_v").cast("double").alias("v_corpus"),
    )
    c2 = bi.groupBy("prev", "w").agg(F.count("*").alias("c2"))
    # bounded probe via a cheap UPPER bound: distinct bigrams <=
    # total bigram occurrences = sum(max(|toks|-1, 0)) — one map+sum
    # scan (partial-agg scalar, no explode, no shuffle). Counting the
    # distinct-bigram table itself would pay the full bigram
    # aggregation a second time (measured 6x the query cost at
    # sf0.1); the upper bound is strictly MORE conservative —
    # broadcast only when even the occurrence count fits — and both
    # routes are value-identical anyway.
    occ = base.select(
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).alias("n")
    ).first()["n"]
    # Above the threshold the LM side is explicitly hinted
    # shuffle_hash: small-scale size ESTIMATES would otherwise let
    # the planner broadcast anyway (or worse, broadcast the corpus
    # side), and the whole point of the gate is a plan that cannot
    # OOM the executors on an unbounded LM.
    _b = (
        F.broadcast
        if (occ or 0) <= broadcast_max_rows
        else (lambda df: df.hint("shuffle_hash"))
    )
    lm = (
        c2.join(_b(uni.select(F.col("w").alias("prev"), F.col("c1").alias("c1_prev"))), "prev")
        .join(_b(uni), "w")
        .crossJoin(F.broadcast(z))
        .select(
            "prev",
            "w",
            F.round(
                F.ln(
                    F.lit(0.75)
                    * (F.col("c2").cast("double") / F.col("c1_prev").cast("double"))
                    + F.lit(0.25)
                    * ((F.col("c1").cast("double") + 1.0) / (F.col("n_corpus") + F.col("v_corpus")))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("lp"),
        )
    )
    per_doc = (
        bi.join(_b(lm), ["prev", "w"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp").alias("_slp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(-F.col("_slp").cast("double") / F.col("n_bigrams"), 6).alias(
                "nll_per_bigram"
            ),
        )
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            "nll_per_bigram",
        )
    )


def skipgram_pairs(
    docs: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Corpus-wide skip-gram co-occurrence counts — the (center,
    context) pair table word2vec / GloVe training starts from: for
    every token position i, every token within ``±window`` positions
    (excluding i itself) contributes one pair; output is the
    aggregated ``(center, context, n_pairs)`` table.

    Plan shape (the 100 TB posture): pair GENERATION is a pure array
    expression — per position, the window's neighbors come from two
    bounded ``slice`` calls on the token array, flattened and
    exploded — so there is NO self-join on position (the naive form
    shuffles the corpus and multiplies it by 2·window before
    aggregating); the only shuffle is the final (center, context)
    count, map-side combined down to the co-occurrence vocabulary.
    The lambda touches only its bound variables (the word_shingles
    CollapseProject discipline, ``dedup.py``). Raw tokens, no
    stopword filter — subsampling/filtering is the caller's policy
    knob, as in word2vec.

    Output: ``center STRING, context STRING, n_pairs BIGINT``.
    """
    from mapreduce_inverted_index_spark.functions.text import tokenize

    w = int(window)
    toks = tokenize("text")
    # left neighbors: slice(toks, max(i-w,0)+1, min(i,w)) ;
    # right neighbors: slice(toks, i+2, min(w, n-i-1))  (1-based slice)
    pairs = F.expr(
        f"""
        flatten(transform(sequence(0, size({'_toks'}) - 1), i ->
          transform(
            concat(
              slice(_toks, greatest(i - {w}, 0) + 1, least(i, {w})),
              slice(_toks, i + 2, least({w}, size(_toks) - i - 1))
            ),
            c -> struct(_toks[i] AS center, c AS context)
          )
        ))
        """
    )
    return (
        docs.select(toks.alias("_toks"))
        .where(F.size("_toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"),
            F.col("p.context").alias("context"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )
