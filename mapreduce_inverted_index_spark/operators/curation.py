"""Training-data curation operators beyond dedup: benchmark
decontamination, deterministic stratified sampling, and sequence
packing — the steps between "cleaned corpus" and "training batches"
in an LLM data pipeline.

All three are builtin-expression compositions (no UDFs) chosen so a
DuckDB oracle can replay them exactly:

  * decontamination = shingle semi-join against a (small, broadcast)
    benchmark set — the standard n-gram-overlap test-set filter;
  * stratified sampling hashes ids with md5 (NOT xxhash64: md5 is
    the hash both engines implement identically), so the sample is
    reproducible cross-engine and independent of partitioning;
  * sequence packing is contiguous per-source packing by token
    cumsum — a window cumsum, not a driver loop, so it scales with
    the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.dedup import word_shingles

__all__ = [
    "contamination_hits",
    "decontaminate",
    "stratified_sample",
    "pack_sequences",
    "policy_filter",
    "contrastive_negatives",
    "corpus_shuffle",
    "temperature_sample",
    "weighted_sample",
    "dsir_importance_weights",
]

# Gopher's rule-set requires a document to contain at least two of a
# short list of ubiquitous English function words; absence is a
# strong "not running prose" signal.
POLICY_STOPWORDS = ("the", "a", "and", "of", "to", "in", "that", "with")


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document count of word trigram shingles shared with a
    benchmark/eval set — the overlap signal behind test-set
    decontamination. Output: ``doc_id, n_hits`` (docs with ≥1 hit).

    The benchmark side collapses to DISTINCT shingles before the
    join; it is tiny relative to the corpus (eval sets are KBs, the
    corpus is TBs), so Catalyst broadcasts it and the corpus never
    shuffles — each executor filters its own partitions.

    ``doc_shingles`` / ``bench_shingles``: optional prebuilt
    ``(doc_id, shingles)`` tables (e.g. the persisted table shared
    with the MinHash family).
    """
    if doc_shingles is None:
        doc_shingles = word_shingles(docs, 3)
    if bench_shingles is None:
        bench_shingles = word_shingles(benchmark, 3)
    doc_sh = doc_shingles.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    bench_sh = (
        bench_shingles.select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """The corpus minus documents sharing at least one shingle with
    the benchmark (left-anti join on the flagged ids —
    document text never shuffles)."""
    flagged = contamination_hits(docs, benchmark).where(
        F.col("n_hits") >= 1
    )
    return docs.join(
        flagged.select(F.col("doc_id").alias("doc_id")), "doc_id", "left_anti"
    )


def policy_filter(
    docs: DataFrame,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher/C4-style rule-based document filter with REASON CODES:
    every document gets a keep/drop decision plus the
    ';'-joined list of rules it violated — the auditable form a
    production curation pipeline needs (a bare boolean can't answer
    "why did we drop 40% of this crawl?").

    Rules (fixed order — the reasons string is deterministic):
      ``too_short`` / ``too_long``   token count outside
                                     [20, 100 000]
      ``word_len``                   mean word length outside
                                     [2.0, 10.0]
      ``low_diversity``              distinct/total token ratio below
                                     0.3 (the repeated-boilerplate
                                     signal)
      ``no_stopwords``               fewer than 2 occurrences of
                                     ubiquitous
                                     function words (Gopher's "is
                                     this prose at all" test)
      ``blocklist``                  any blocklist term present

    Output: ``doc_id, n_tokens, mean_word_len, type_token_ratio,
    stopword_hits, blocklist_hits, reasons, keep``.

    Shape at scale: a pure per-row projection — zero shuffles, fully
    codegen'd, evaluated by the scan itself; the downstream corpus
    filter is ``.where("keep")`` which Parquet readers push down.
    Ratios are rounded to 6 places BEFORE the threshold compare so
    the decision replays identically in the DuckDB oracle
    (float-order discipline, same as ``quality_profile``).
    """
    from mapreduce_inverted_index_spark.functions.text import tokenize

    d = docs.select(F.col("doc_id").alias("doc_id"), tokenize("text").alias("toks"))
    # coalesce: a NULL text (failed fetch — the reference's S2
    # failure mode keeps the row) tokenizes to NULL under ANSI mode,
    # and NULL < 20 is NULL, which concat_ws would silently
    # skip — the broken doc would sail through keep=true. Pin it to
    # 0 tokens so too_short fires.
    n_tokens = F.coalesce(F.size("toks"), F.lit(0))
    mean_wl = F.when(
        n_tokens > 0,
        F.round(
            F.aggregate("toks", F.lit(0), lambda a, t: a + F.length(t)).cast(
                "double"
            )
            / n_tokens,
            6,
        ),
    ).otherwise(F.lit(0.0))
    ttr = F.when(
        n_tokens > 0,
        F.round(F.size(F.array_distinct("toks")).cast("double") / n_tokens, 6),
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(F.col("toks"), lambda t: t.isin(*POLICY_STOPWORDS)))
    block_hits = (
        F.size(F.filter(F.col("toks"), lambda t: t.isin(*blocklist)))
        if blocklist
        else F.lit(0)
    )
    m = d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        ttr.alias("type_token_ratio"),
        stop_hits.cast("int").alias("stopword_hits"),
        block_hits.cast("int").alias("blocklist_hits"),
    )
    # concat_ws skips NULLs in BOTH engines, so each rule contributes
    # its code iff it fires and the join stays order-stable.
    rule = lambda cond, code: F.when(cond, F.lit(code))  # noqa: E731
    reasons = F.concat_ws(
        ";",
        rule(F.col("n_tokens") < 20, "too_short"),
        rule(F.col("n_tokens") > 100_000, "too_long"),
        rule(
            (F.col("mean_word_len") < 2.0)
            | (F.col("mean_word_len") > 10.0),
            "word_len",
        ),
        rule(F.col("type_token_ratio") < 0.3, "low_diversity"),
        rule(F.col("stopword_hits") < 2, "no_stopwords"),
        rule(F.col("blocklist_hits") > 0, "blocklist"),
    )
    return m.select(
        "*",
        reasons.alias("reasons"),
    ).withColumn("keep", F.col("reasons") == "")


def contrastive_negatives(
    docs: DataFrame,
    k: int = 4,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor document, ``k`` pseudo-random negatives drawn
    uniformly from the corpus by md5 arithmetic — ``negative j of
    anchor a = the document at dense rank md5(a ‖ ':' ‖ j) mod N``.
    Output: ``anchor_id, neg_no (1..k), neg_id, same_group`` (whether
    both share a ``source``: the flag callers use to drop or
    down-weight in-group "negatives" that may be semantically
    positive).

    Why hash-indexed, not ``rand()``: the batch a trainer sees must
    be REPLAYABLE — across retries, engines, and partitionings — or
    no training run is reproducible and no oracle can check the
    sampler. md5 gives uniform-ish ranks with exactly that property
    (the same argument as ``stratified_sample``; both engines
    implement md5 identically).

    Shape at scale: the dense-rank table comes from
    ``ids.assign_dense_ids`` (global row_number — see that docstring
    for the ``assign_partition_ids`` alternative past tens of
    millions of rows); probes are a k-way explode of the anchor ids
    joined back on the integer rank — one shuffle on a bigint key,
    never a crossJoin of the corpus. Self-matches (an anchor drawing
    itself, probability k/N) are filtered, yielding ≤ k negatives
    for those anchors — callers needing exactly-k re-probe with a
    second salt.
    """
    from mapreduce_inverted_index_spark.operators.ids import assign_dense_ids

    idx = assign_dense_ids(
        docs.select(F.col("doc_id").alias("_id"), F.col("source").alias("_grp")),
        order_by="_id",
        id_name="_rk",
    )
    n = idx.agg(F.count("*").alias("_n"))
    probes = (
        idx.select(
            F.col("_id").alias("anchor_id"),
            F.col("_grp").alias("_anchor_grp"),
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("_j"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "_anchor_grp",
            F.col("_j").cast("int").alias("neg_no"),
            F.pmod(
                _md5_long_str(
                    F.concat(
                        F.col("anchor_id").cast("string"),
                        F.lit(":"),
                        F.col("_j").cast("string"),
                    )
                ),
                F.col("_n"),
            ).alias("_cand_rk"),
        )
    )
    return (
        probes.join(idx, probes._cand_rk == idx._rk)
        .where(F.col("_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "neg_no",
            F.col("_id").alias("neg_id"),
            (F.col("_grp") == F.col("_anchor_grp")).alias("same_group"),
        )
    )


def _md5_long_str(col: F.Column) -> F.Column:
    """First 15 hex chars of md5 of a string column as a non-negative
    bigint (the cross-engine hash; same construction as
    ``_md5_bucket`` without the modulus)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _md5_bucket(col, buckets: int = 100) -> F.Column:
    """Deterministic [0, buckets) bucket from md5 — identical math in
    Spark and DuckDB (xxhash64 exists only in Spark), independent of
    partitioning and stable across runs."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    return F.pmod(h, F.lit(buckets))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its id's
    md5-bucket (0-99) falls under its stratum's percentage — the
    mixture-weighting step of a training-data pipeline ("3 parts web,
    1 part code, ..."). No shuffle at all: a pure filter the scan can
    evaluate; rates are compiled into the predicate.
    """
    bucket = _md5_bucket(F.col("doc_id"))
    rate = F.lit(default_rate * 100)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(r * 100)).otherwise(rate)
    return df.where(bucket < rate)


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 2048,
) -> DataFrame:
    """Contiguous sequence packing: within each ``source``, docs
    (ordered by id) are packed into training sequences of
    ``budget_tokens`` by cumulative estimated token count — sequence
    k holds the docs whose preceding cumsum lies in
    [k·budget, (k+1)·budget).

    One window cumsum per group (single shuffle on the group key; the
    per-group sort is the packing ORDER, which any deterministic
    packer needs), then a plain aggregation. Output: ``source,
    seq_id, n_docs, seq_tokens``. Token estimate = ceil(chars/4), the
    standard BPE heuristic (see ``textstats.token_stats``).
    """
    est = F.ceil(F.length("text") / 4.0).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = docs.select(
        F.col("source").alias("source"),
        F.col("doc_id").alias("doc_id"),
        est.alias("est_tokens"),
    ).select(
        "source",
        "doc_id",
        "est_tokens",
        F.floor(
            (F.sum("est_tokens").over(w) - F.col("est_tokens"))
            / F.lit(budget_tokens)
        ).cast("bigint").alias("seq_id"),
    )
    return tagged.groupBy("source", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("est_tokens").alias("seq_tokens"),
    )


def corpus_shuffle(
    df: DataFrame,
) -> DataFrame:
    """Deterministic global corpus shuffle: a dense 0-based training
    order by ``md5('42:' || doc_id)`` — the reproducible permutation every
    training run needs (epoch order must be replayable for debugging
    and for elastic restarts, so ``rand()`` is out).

    Scale shape: the total order is established by a RANGE
    repartition on the hash (uniform by construction — md5 output is
    unskewed, so the range partitions are balanced regardless of how
    skewed ``doc_id`` is) + a per-partition sort, and ranks come from
    :func:`~mapreduce_inverted_index_spark.operators.ids.assign_partition_ids`
    (per-partition counts -> driver prefix sums, O(#partitions)
    driver state) — NOT a global row_number window, whose empty
    partitionBy funnels 100 TB through one task. Rows are projected
    to (id, hash) BEFORE the rank pass so document payloads never
    ride through it; callers re-join payloads by id (or write
    sorted-by-rank and read back, the production layout).

    Output: ``doc_id, shuffle_rank`` with ranks exactly equal to
    ``row_number() OVER (ORDER BY md5, doc_id) - 1``.
    """
    from mapreduce_inverted_index_spark.operators.ids import assign_partition_ids

    h = F.md5(F.concat_ws(":", F.lit("42"), F.col("doc_id").cast("string")))
    keyed = df.select(F.col("doc_id"), h.alias("_shuffle_key"))
    ordered = keyed.repartitionByRange("_shuffle_key", "doc_id").sortWithinPartitions(
        "_shuffle_key", "doc_id"
    )
    return assign_partition_ids(ordered, "shuffle_rank").drop("_shuffle_key")


def train_val_test_split(
    df: DataFrame,
) -> DataFrame:
    """Deterministic held-out split assignment: each row's id hashes
    to a [0,100) md5-bucket; the first 90 buckets are train, the next
    5 val, the last 5 test. Hash-keyed (not random) so the
    assignment is reproducible run-to-run, independent of
    partitioning, and STABLE UNDER CORPUS GROWTH — a doc never
    migrates between splits when new data arrives, the property that
    keeps eval sets uncontaminated across pipeline re-runs. Adds
    ``split``; pure projection (no shuffle, scan-evaluable).
    """
    bucket = _md5_bucket(F.col("doc_id"))
    return df.withColumn(
        "split",
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def temperature_sample(df: DataFrame) -> DataFrame:
    """Temperature-based mixture sampling (the T5/mT5 data-mixing
    step): per-``source`` keep rates proportional to
    ``count^alpha``, alpha = 0.5, so small sources are up-weighted
    relative to their raw share (alpha=1 would reproduce natural
    proportions; alpha->0 approaches uniform-over-groups), scaled so
    about 40 % of the rows are kept. Rows are kept by deterministic md5 bucket
    — reproducible, partition-independent, stable under reruns, and
    a doc's keep/drop never depends on execution order.

    Plan: one tiny per-group count aggregate, the rate arithmetic on
    that ≤ |groups|-row table, then a broadcast join back and a scan
    predicate — the corpus itself never shuffles.

    Cross-engine exactness: alpha is fixed at 0.5 because sqrt IS
    correctly rounded under IEEE-754 (identical in Spark and DuckDB)
    while pow() is not (libm-dependent — a pow-based rate could
    flicker the floor() threshold at a boundary). All downstream
    ops on the rate are correctly-rounded double mul/div, so the
    integer threshold ``floor(rate * 10000)`` is bit-identical and
    the kept SET is exactly oracle-replayable.

    Output: input rows that survive, plus ``keep_bps`` (the group's
    keep rate in basis points) for auditability.
    """
    # counts feeds the totals row AND the rate table (no shared
    # Exchange), so unpersisted the corpus was scanned once per
    # branch plus once for the final filter join — three scans for a
    # ≤|groups|-row aggregate. Persist the tiny table: two scans
    # (the aggregate and the filtered output), the minimum this
    # operator can do.
    counts = df.groupBy("source").agg(F.count("*").alias("_c")).persist()
    # _sw sums doubles across groups — order-dependent as raw floats.
    # Round each sqrt to 9 places (still correctly-rounded, identical
    # both engines) and sum as DECIMAL: exact and order-independent,
    # so the downstream floor() threshold can never flicker.
    tot = counts.agg(
        F.sum("_c").alias("_n"),
        F.sum(F.round(F.sqrt("_c"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("_sw"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(
            F.least(
                F.lit(1.0),
                F.sqrt("_c") / F.col("_sw") * F.lit(0.4)
                * F.col("_n") / F.col("_c"),
            )
            * 10000
        ).cast("int").alias("keep_bps"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    return (
        df.join(F.broadcast(rates), "source")
        .where(bucket < F.col("keep_bps"))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weight-biased top-k sample (the A-ES / priority-
    sampling shape): each row gets priority ``md5_long(id) div
    (weight + 1)`` — EXACT bigint division (never float: the hash is
    ~2^60, past double's 2^53 exact-integer range) — and the k
    SMALLEST priorities win. Selection probability grows with
    weight (a row with twice the weight halves its priority scale),
    the draw is byte-reproducible across engines/partitionings/
    reruns, and heavier corpora can audit exactly why a doc was
    kept.

    This is the per-ROW-weight member of the sampling family
    (``group_sample`` = uniform per group, ``temperature_sample`` =
    per-GROUP rate shaping, ``stratified_sample`` = per-group
    md5-bucket rates): weight lives on the row (token count, quality
    score), no grouping involved.

    Plan shape: scan-side priority expression + global top-k =
    ``TakeOrderedAndProject`` (per-partition heaps of k, never a
    full sort/shuffle of the corpus). Ties (same priority) break on
    ``doc_id``, so the kept SET is a total-order prefix — exactly
    replayable by an ORDER BY/LIMIT oracle.

    Output: the k sampled rows plus ``priority``.

    Weights must be non-NULL and >= 0: weight = -1 would make the
    bigint ``div`` divide by zero (NULL priority, which sorts FIRST
    under orderBy and silently wins the sample), any negative weight
    inverts the bias, and a NULL weight NULLs the priority the same
    way — so the priority expression itself raises on bad weights
    (runtime-data check, mirroring the plan-time k >= 1 guard; baked
    into the expression so column pruning can't drop it).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # upper bound 9.2e18: past bigint range the cast would overflow —
    # ANSI mode raises anyway, but non-ANSI sessions would get a NULL
    # priority that sorts FIRST and silently wins, the exact failure
    # this guard exists to close; check both ends explicitly
    pri = F.expr(
        f"CASE WHEN {weight_col} IS NULL OR {weight_col} < 0 "
        f"OR {weight_col} > 9.2e18 THEN "
        f"CAST(raise_error(concat('weighted_sample: weight must be "
        f"non-NULL and in [0, 9.2e18], got ', "
        f"coalesce(cast({weight_col} AS STRING), 'NULL'))) AS BIGINT) "
        f"ELSE _wsp_h div (cast({weight_col} as bigint) + 1) END"
    )
    return (
        df.withColumn("_wsp_h", h)
        .withColumn("priority", pri)
        .drop("_wsp_h")
        .orderBy("priority", "doc_id")
        .limit(k)
    )


def dsir_importance_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023, arXiv:2302.03169): per-document log importance weight
    ``log p_target(doc) / p_source(doc)`` under hashed-unigram
    bag-of-buckets language models — the standard recipe for tilting
    a raw crawl toward a high-quality target corpus before sampling.

    Model: tokens hash into ``n_buckets`` buckets (md5 — the
    cross-engine hash, see ``_md5_bucket``); each corpus's bucket
    distribution is add-1 smoothed, so

      ``log w(doc) = Σ_b c_b(doc) · [ln(tc_b + 1) − ln(sc_b + 1)]
                     + n_tokens(doc) · [ln(ts + B) − ln(tt + B)]``

    with ``tc/sc`` the target/source bucket counts and ``tt/ts`` the
    corpus token totals. Every ``ln`` takes an INTEGER argument and
    is rounded to 9 decimals into DECIMAL(18,9) before any sum (the
    lm_quality_scores transcendental discipline), so the whole weight
    is exact decimal arithmetic — order-independent, replayable by a
    DuckDB oracle, no float-accumulation drift at any scale.

    Scale shape: two token-histogram aggregations (map-side combined;
    shuffle rows are (bucket, count) — at most ``n_buckets`` per
    side), ONE broadcast of the ≤ n_buckets-row log-ratio dim table,
    one (doc, bucket)-grained partial aggregation and one groupBy
    doc_id. No all-pairs anything; the only driver-sized object is
    the dim table. Docs with zero tokens have no defined weight and
    are omitted (DSIR has nothing to score).

    Output: ``doc_id, n_tokens BIGINT, log_weight DOUBLE (round 6)``.
    Feed ``exp(log_weight)`` into :func:`weighted_sample` for the
    resampling half of the recipe.
    """
    from mapreduce_inverted_index_spark.functions.text import tokenize

    def buckets(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(tokenize("text")).alias("term"),
        ).select("doc_id", _md5_bucket(F.col("term"), n_buckets).alias("b"))

    dec = "decimal(18,9)"
    # Persist the two-consumer tables (the bm25_rank discipline):
    # src_b feeds the source histogram AND the per-doc counts on
    # DIFFERENT keys (b vs doc_id,b — no shared Exchange), and each
    # histogram feeds the log-ratio dim AND the totals row.
    # Unpersisted, the source corpus was tokenized 3× and the target
    # 2× per run; persisted, each is tokenized once. src_b is
    # (doc_id, bucket) rows; the histograms are ≤ n_buckets rows.
    src_b = buckets(docs).persist()
    src_h = src_b.groupBy("b").agg(F.count("*").alias("sc")).persist()
    tgt_h = (
        buckets(target).groupBy("b").agg(F.count("*").alias("tc")).persist()
    )
    dim = src_h.join(tgt_h, "b", "full_outer").select(
        "b",
        (
            F.round(F.log(F.coalesce("tc", F.lit(0)) + F.lit(1)), 9).cast(dec)
            - F.round(F.log(F.coalesce("sc", F.lit(0)) + F.lit(1)), 9).cast(dec)
        ).alias("lr"),
    )
    konst = (
        src_h.agg(F.sum("sc").alias("ts"))
        .crossJoin(tgt_h.agg(F.sum("tc").alias("tt")))
        .select(
            (
                F.round(F.log(F.col("ts") + F.lit(n_buckets)), 9).cast(dec)
                - F.round(F.log(F.col("tt") + F.lit(n_buckets)), 9).cast(dec)
            ).alias("k")
        )
    )
    doc_b = src_b.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return (
        doc_b.join(F.broadcast(dim), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            # cast the aggregate DOWN to (28,9): Spark's sum yields
            # (38,9) and a (38,9)+(31,9) add busts the 38-precision
            # cap, silently dropping to scale 8 — which manufactured
            # exact .5 ties at the 6th decimal (measured: doc totals
            # like -12.078359495 became -12.07835950). (28,9) keeps
            # |s| < 10^19 — four orders beyond any real corpus.
            F.sum(F.col("c").cast("decimal(12,0)") * F.col("lr"))
            .cast("decimal(28,9)")
            .alias("_s"),
        )
        .crossJoin(F.broadcast(konst))
        .select(
            "doc_id",
            "n_tokens",
            # round while still DECIMAL (exact half-up, engine-
            # identical), THEN cast: rounding after the double cast
            # hits representation ties (measured: 18/5000 docs off by
            # exactly 1e-6 at sf0.1)
            F.round(
                F.col("_s")
                + (
                    F.col("n_tokens").cast("decimal(12,0)") * F.col("k")
                ).cast("decimal(28,9)"),
                6,
            )
            .cast("double")
            .alias("log_weight"),
        )
    )
