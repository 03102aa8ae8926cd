"""Deduplication operators for LLM training-data pipelines.

Four families, each designed for the 100 TB shape of the problem:

  * **exact** — hash-groupBy on normalized text. Shuffle carries
    (hash, doc_id) only, never the text; at scale this is the
    cheapest possible dedup (one shuffle on a uniform key).
  * **n-gram Jaccard** — word-shingle similarity join, *blocked* so
    the quadratic pair space stays bounded (block key = `source`
    here; any provenance/bucket key at scale).
  * **MinHash + LSH** — the scale path for unblocked near-dup: per
    doc O(SHINGLES) signature work, then candidates come from
    banded-bucket joins (shuffle on band keys) instead of all-pairs.
    Candidates are verified with exact Jaccard before reporting.
  * **SimHash** — 60-bit fingerprints whose Hamming distance tracks
    cosine similarity of term-frequency vectors; near-dup = small
    Hamming distance. Signature build is two narrow aggregations.

Everything is builtin-expression DataFrame code (no Python UDFs):
hashes are md5/xxhash64, shingles are array transforms, signatures
are aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_inverted_index_spark.operators.checkpointing import truncate_lineage

from mapreduce_inverted_index_spark.functions.text import terms, tokenize

__all__ = [
    "normalize_for_dedup",
    "exact_dedup",
    "word_shingles",
    "bounded_block_join",
    "ngram_jaccard_pairs",
    "dup_components",
    "minhash_signatures",
    "minhash_near_dup",
    "band_table",
    "write_minhash_state",
    "minhash_incremental_dedup",
    "simhash_signatures",
    "simhash_candidate_pairs",
    "fuzzy_key_pairs",
    "fuzzy_unblocked_pairs",
    "simhash_hamming_candidates",
]

# MinHash configuration: 64 permutations in 16 bands of 4 rows →
# the LSH S-curve crosses ~50% recall at jaccard ≈ (1/16)^(1/4) ≈ 0.5
# and is near-1 by 0.7. Tune bands/rows per target threshold.
NUM_PERM = 64
BANDS = 16
ROWS_PER_BAND = NUM_PERM // BANDS

# Universal-hash permutation family over the Mersenne prime 2^31-1:
# h_p(x) = (a_p * x + b_p) mod P with x a 31-bit base hash. One
# string hash per shingle + 64 codegen'd integer ops beats 64 string
# hashes per shingle by an order of magnitude, and every intermediate
# (a_p < 2^31) * (x < 2^31) fits signed INT64 under ANSI arithmetic.
_P31 = (1 << 31) - 1


def _perm_constants() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from md5 — stable across
    runs/sessions with no RNG state."""
    import hashlib

    out = []
    for p in range(NUM_PERM):
        d = hashlib.md5(f"minhash-perm-{p}".encode()).digest()
        a = (int.from_bytes(d[:8], "big") % (_P31 - 1)) + 1  # a != 0
        b = int.from_bytes(d[8:], "big") % _P31
        out.append((a, b))
    return out


_PERMS = _perm_constants()


def normalize_for_dedup(col) -> F.Column:
    """Whitespace-collapse + trim + lowercase — the canonical form
    hashed by exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: one row per distinct content hash with
    the keeper (min id) and the copy count.

    Output: ``content_hash STRING, doc_id BIGINT (keeper), n_copies
    BIGINT``. Joining back on ``doc_id`` filters the corpus to
    survivors without ever shuffling document text.
    """
    return (
        docs.select(
            F.md5(normalize_for_dedup("text")).alias("content_hash"),
            F.col("doc_id").alias("doc_id"),
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
    )


def word_shingles(docs: DataFrame, n: int = 2, *, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct word n-gram shingles per document.

    Stopwords are kept (dedup should see the text as-is); shorter
    docs fall back to their raw token list so they still participate.

    Built as ``zip_with`` over n shifted ``slice``s of the token
    array, NOT as ``transform(sequence(...), i -> element_at(toks,
    i))``: a lambda body that references an outer projected alias
    gets the alias's full defining expression inlined by
    CollapseProject and re-evaluated PER ELEMENT — which re-tokenized
    the document once per shingle per element_at (measured 10x the
    runtime of this whole operator). zip_with lambdas touch only
    their bound variables, so tokenization stays O(1) per row.
    """
    toks = tokenize("text")
    d = docs.select(F.col("doc_id").alias("doc_id"), *extra_cols, toks.alias("toks"))
    m = F.greatest(F.size("toks") - (n - 1), F.lit(0))
    parts = [F.slice("toks", k + 1, m) for k in range(n)]
    acc = parts[0]
    for p in parts[1:]:
        acc = F.zip_with(acc, p, lambda a, b: F.concat_ws(" ", a, b))
    shingles = F.when(F.size("toks") >= n, acc).otherwise(F.col("toks"))
    return d.select(
        "doc_id", *extra_cols, F.array_distinct(shingles).alias("shingles")
    )


def _jaccard(a, b) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, 6)


# Hot-block cap of the blocked pair generators: a block larger than
# this is split into hash-chunk sub-joins (see bounded_block_join).
MAX_BLOCK_ROWS = 10_000


def bounded_block_join(
    a: DataFrame,
    b: DataFrame,
    blk: str,
    id_a: str,
    id_b: str,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Self-join plumbing for blocked pair generators: all (a, b) row
    pairs sharing ``blk`` with ``a[id_a] < b[id_b]``.

    With ``max_block_rows`` set, a block of n rows is split into
    k = ceil(n / max_block_rows) hash-chunks and each side is
    replicated k× so the join key becomes (blk, chunk_a, chunk_b) —
    the k² sub-joins of an oversized block land on k² different
    reducers with (n/k)² expected work each, instead of one straggler
    task doing n². EXACT semantics: every qualifying pair matches in
    exactly one (chunk_a, chunk_b) cell (each side pins its own chunk
    and enumerates the other's), so results are identical to the
    unbounded join — this bounds per-task time, not total work, which
    is inherent to exact all-pairs output. ``None`` keeps the plain
    single-key join (no counts pass, no replication).

    The join inputs are REPARTITIONED by the join key with an
    explicit partition count, which AQE's post-shuffle coalescing
    respects (user-specified width) where it would otherwise merge
    them: the pair join's map output is tiny (one row per input doc)
    while its reduce side amplifies quadratically, so size-based
    coalescing reads the shuffle as "a few MB -> 1 partition" and
    serializes the entire Σ|block|² explosion onto one task. The sf1
    decade sweep measured exactly that: 20 blocks x C(2500,2) pairs
    ground single-threaded for 30+ min; pinned width spreads it
    across the block/chunk key space. General rule this encodes:
    never let size-based shuffle planning see only the INPUT of a
    work-amplifying operator.
    """
    n_part = int(
        a.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if max_block_rows is None:
        return (
            a.repartition(n_part, blk)
            .join(b.repartition(n_part, blk), [blk])
            .where(F.col(id_a) < F.col(id_b))
        )
    counts = a.groupBy(blk).agg(
        F.greatest(
            F.ceil(F.count("*") / F.lit(max_block_rows)).cast("int"), F.lit(1)
        ).alias("_k")
    )
    a_rep = (
        a.join(counts, blk)
        .select(
            "*",
            F.pmod(F.xxhash64(F.col(id_a)), F.col("_k")).cast("int").alias("_ca"),
            F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("_cb"),
        )
        .drop("_k")
    )
    b_rep = (
        b.join(counts, blk)
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("_ca"),
            F.pmod(F.xxhash64(F.col(id_b)), F.col("_k")).cast("int").alias("_cb"),
        )
        .drop("_k")
    )
    return (
        a_rep.repartition(n_part, blk, "_ca", "_cb")
        .join(b_rep.repartition(n_part, blk, "_ca", "_cb"), [blk, "_ca", "_cb"])
        .where(F.col(id_a) < F.col(id_b))
        .drop("_ca", "_cb")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.35,
    shingles: DataFrame | None = None,
    max_shingle_df: int = 1_000,
) -> DataFrame:
    """Blocked n-gram Jaccard similarity join.

    The candidate space is confined to ``source`` groups, so the
    pair space is Σ_b |b|² instead of N² — the difference between
    feasible and impossible at 100 TB. Output: ``doc_a, doc_b,
    jaccard``.

    Inverted-index co-occurrence form: explode shingles, equi-join on
    (block, shingle), count shared shingles per pair, then
    |A∪B| = nA + nB − i. Per-pair cost is an AGGREGATE INCREMENT;
    total work ∝ the shared-shingle stream Σ_g c_g², not
    Σ_b |b|² × |shingles| array intersects. The r12 sf1 timing sweep
    measured a block-pair form with array intersects at 36× for 10×
    data on dedup-shaped blocks (62M pairs × ~800-element
    intersects); this form collapses that to the co-occurrence
    aggregation. Requires ``threshold > 0`` (zero-overlap pairs never
    materialize).

    Skew guard: a shingle shared by c docs of one block puts c² rows
    on a single (block, shingle) join key — a near-universal shingle
    turns the co-occurrence join into one straggler task.
    ``max_shingle_df`` bounds the TASK, not the work: shingles whose
    per-block df exceeds the cap run their self-join CHUNKED — each
    posting pins a hash chunk of ceil(df/cap) on one side and
    enumerates chunks on the other (the :func:`bounded_block_join`
    construction applied to the (block, shingle) key), so every
    qualifying co-occurrence row still materializes exactly once,
    per-task fanout is ≤ cap², and TOTAL work is unchanged. Σ_g c_g²
    is intrinsic to exact intersection counting — a first r13 cut
    that routed hot shingles' DOCS through a pair path bounded tasks
    but multiplied total work ~800× on corpora where most shingles are
    legitimately dense (this fixture's ~96-bigram block vocabulary
    puts every shingle in ~half its block). Chunking is the only
    lossless answer that keeps both bounds.

    ``shingles``: optional prebuilt ``(doc_id, source, shingles)``
    table (e.g. persisted once and shared across several dedup passes);
    built from ``docs`` when omitted.
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0 (zero-overlap "
            "pairs never materialize)"
        )
    sh = (
        shingles
        if shingles is not None
        else word_shingles(docs, extra_cols=("source",))
    )
    sizes = sh.select(
        F.col("doc_id").alias("_d"), F.size("shingles").alias("_n")
    )
    ex = sh.select(
        F.col("source").alias("blk"),
        F.col("doc_id").alias("doc_id"),
        F.explode("shingles").alias("g"),
    )
    # Split the exploded stream at the df cap. Cold keys run
    # the plain single-key self-join; hot keys run the SAME
    # join chunked k = ceil(df/cap) ways — each posting pins
    # its own hash chunk on one side and enumerates the
    # other's, so every qualifying (a, b, g) row matches in
    # exactly one (chunk_a, chunk_b) cell and per-task fanout
    # is <= cap^2. The explicit repartition width pins the
    # chunk spread against AQE's input-sized coalescing (the
    # bounded_block_join lesson).
    dfc = ex.groupBy("blk", "g").agg(F.count("*").alias("_df"))
    hot_g = dfc.where(F.col("_df") > max_shingle_df)
    ex_cold = ex.join(
        hot_g.select("blk", "g"), ["blk", "g"], "left_anti"
    )
    ex_hot = ex.join(
        hot_g.select(
            "blk",
            "g",
            F.ceil(F.col("_df") / F.lit(max_shingle_df))
            .cast("int")
            .alias("_k"),
        ),
        ["blk", "g"],
    )
    co_cold = (
        ex_cold.select("blk", F.col("doc_id").alias("doc_a"), "g")
        .join(
            ex_cold.select(
                "blk", F.col("doc_id").alias("doc_b"), "g"
            ),
            ["blk", "g"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    a_hot = ex_hot.select(
        "blk",
        "g",
        F.col("doc_id").alias("doc_a"),
        F.pmod(F.xxhash64("doc_id"), F.col("_k"))
        .cast("int")
        .alias("_ca"),
        F.explode(
            F.sequence(F.lit(0), F.col("_k") - 1)
        ).alias("_cb"),
    )
    b_hot = ex_hot.select(
        "blk",
        "g",
        F.col("doc_id").alias("doc_b"),
        F.explode(
            F.sequence(F.lit(0), F.col("_k") - 1)
        ).alias("_ca"),
        F.pmod(F.xxhash64("doc_id"), F.col("_k"))
        .cast("int")
        .alias("_cb"),
    )
    n_part = int(
        ex.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"
        )
    )
    co_hot = (
        a_hot.repartition(n_part, "blk", "g", "_ca", "_cb")
        .join(
            b_hot.repartition(n_part, "blk", "g", "_ca", "_cb"),
            ["blk", "g", "_ca", "_cb"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    co = co_cold.unionByName(co_hot)
    inter = co.groupBy("doc_a", "doc_b").agg(F.count("*").alias("_i"))
    na = sizes.select(F.col("_d").alias("doc_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_d").alias("doc_b"), F.col("_n").alias("_nb"))
    jacc = F.round(
        F.col("_i").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_i")),
        6,
    )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """64-permutation MinHash signature per document.

    Plan shape: explode shingles → ONE md5-prefix hash per shingle
    row (DuckDB-replayable; see :func:`_minhash_signatures_from`) →
    64 ``min((a_p·x + b_p) mod P)`` aggregates. The string hash is
    paid once; the permutations are whole-stage-codegen'd integer
    arithmetic (not interpreted higher-order lambdas, which benched
    ~10× slower). The groupBy's map-side partial mins collapse each
    partition to its distinct docs × 64 longs before any shuffle.
    """
    return _minhash_signatures_from(word_shingles(docs, 3))


def _minhash_signatures_from(sh: DataFrame) -> DataFrame:
    """Signatures from an existing (doc_id, shingles) table.

    The base shingle hash is the md5-prefix construction SimHash
    already uses (first 15 hex chars → 60-bit int, mod 2^31-1) rather
    than xxhash64: md5 exists in DuckDB too, so the ENTIRE MinHash
    pipeline — signatures, banding, candidates, verification — is
    replayable by the SQL oracle and hash-exact cross-engine. One
    md5 per distinct shingle occurrence; the 64 permutations stay
    codegen'd integer arithmetic either way.
    """
    ex = sh.select("doc_id", F.explode("shingles").alias("shingle")).select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint"),
            F.lit(_P31),
        ).alias("x"),
    )
    # SQL-string construction (one JVM parse per aggregate) instead
    # of 64 × ~6 py4j Column calls — same expression, same math;
    # see simhash_signatures for the r13 measurement that motivates
    # this construction style.
    mins = [
        F.expr(f"min(({a}L * x + {b}L) % {_P31}) AS h{p}")
        for p, (a, b) in enumerate(_PERMS)
    ]
    agg = ex.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id",
        F.expr(
            "array(" + ", ".join(f"h{p}" for p in range(NUM_PERM)) + ")"
        ).alias("sig"),
    )


def band_table(sigs: DataFrame) -> DataFrame:
    """LSH band table ``(doc_id, band, key)`` from 64-long signatures:
    16 bands × 4 rows, key = the comma-joined 4-row value tuple
    itself, NOT a rehash — tuple equality IS the banding semantics,
    it cannot add hash-collision candidate pairs, and an oracle can
    replay it as a plain 4-column equi-join. At 100 TB, re-hashing
    the tuple to 8 bytes (xxhash64) shrinks shuffle keys ~4x at the
    cost of a vanishing collision-extra-candidate rate — a one-line
    swap that only ever ADDS candidates (verification filters them).

    This is also the table :func:`write_minhash_state` persists — at
    scale the corpus's bands+shingles are a STORED state a daily
    batch joins against (see :func:`minhash_incremental_dedup`), not
    something recomputed per run.
    """
    # Single SQL-string construction (one JVM parse) — the 16-struct
    # Column build cost ~150 py4j round-trips per call; see
    # simhash_signatures for the r13 measurement.
    band_structs = F.expr(
        "array("
        + ", ".join(
            "struct({b} AS band, concat_ws(',', {cols}) AS key)".format(
                b=b,
                cols=", ".join(
                    f"sig[{b * ROWS_PER_BAND + r}]"
                    for r in range(ROWS_PER_BAND)
                ),
            )
            for b in range(BANDS)
        )
        + ")"
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def write_minhash_state(docs: DataFrame, path: str) -> None:
    """Persist the corpus's dedup state — ``{path}/bands`` and
    ``{path}/shingles`` parquet — the storage half of incremental
    near-dup: signatures are computed ONCE per document ever, then a
    new batch joins against the stored tables
    (:func:`minhash_incremental_dedup`). The pre-write
    ``repartition("key")`` clusters each band-key's rows into one
    file (tight key min/max per row group for scan-side skipping);
    it does NOT persist a partitioning — plain parquet carries no
    distribution metadata, so the incremental join still shuffles the
    state (batch side broadcastable). To make the state-side truly
    shuffle-free at 100 TB, save it with
    ``bucketBy(n, "band", "key").saveAsTable`` on BOTH the writer and
    the batch side (the ``write_index_tables`` pattern)."""
    sh = word_shingles(docs, 3).persist()
    band_table(_minhash_signatures_from(sh)).repartition("key").write.mode(
        "overwrite"
    ).parquet(f"{path}/bands")
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    sh.unpersist()


def minhash_incremental_dedup(
    new_docs: DataFrame,
    base_bands: DataFrame,
    base_shingles: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Near-dup matches of a NEW batch against a stored corpus state —
    the form a production pipeline actually runs: the corpus's band
    and shingle tables are written once (:func:`write_minhash_state`),
    and each incoming batch pays signatures for ITS documents only,
    then one band equi-join against the stored bands (batch-sized ×
    16 rows vs corpus state — never corpus × corpus) and an exact
    Jaccard verify against the stored shingles of the candidate rows
    only. Within-batch duplicates are :func:`minhash_near_dup` on the
    batch; this operator is the batch-vs-corpus half.

    Output: ``new_id, dup_of, jaccard`` — every stored doc the new
    doc LSH-collides with at ``jaccard >= threshold``. Route through
    ``groupBy(new_id).agg(min(dup_of))`` for a keep/drop decision.

    The batch's shingle table is persisted because it feeds both the
    signature pipeline and the verify join.
    """
    new_sh = word_shingles(new_docs, 3).persist()
    new_bands = band_table(_minhash_signatures_from(new_sh))
    cands = (
        new_bands.select(
            "band", "key", F.col("doc_id").alias("new_id")
        )
        .join(
            base_bands.select(
                "band", "key", F.col("doc_id").alias("dup_of")
            ),
            ["band", "key"],
        )
        .select("new_id", "dup_of")
        .distinct()
    )
    return (
        cands.join(
            new_sh.select(
                F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_a")
            ),
            "new_id",
        )
        .join(
            base_shingles.select(
                F.col("doc_id").alias("dup_of"), F.col("shingles").alias("sh_b")
            ),
            "dup_of",
        )
        .select("new_id", "dup_of", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_dup(
    docs: DataFrame,
    threshold: float = 0.35,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Unblocked near-duplicate pairs via MinHash LSH + exact verify.

    1. signatures → 16 banded keys per doc (explode: docs × 16 rows),
    2. candidate pairs = docs sharing any band key (self-join on the
       band key — the only shuffle that matters; band keys are
       near-uniform 64-bit hashes so there is no skew),
    3. verify candidates with exact shingle Jaccard and filter.

    Output: ``doc_a, doc_b, jaccard`` — same shape as the blocked
    brute-force operator, so the two are interchangeable downstream.

    A computed shingle table is persisted because it feeds three
    branches (signatures + both sides of the verification join).

    ``shingles``: optional prebuilt ``(doc_id, shingles)`` table
    (assumed already persisted by the caller).
    """
    if shingles is not None:
        sh_all = shingles.select("doc_id", "shingles")
    else:
        sh_all = word_shingles(docs, 3).persist()
    bands = band_table(_minhash_signatures_from(sh_all))
    # Persist the band table: BOTH sides of the self-join below are
    # derived from it, and without a persist Spark recomputes the
    # whole signature pipeline (md5 + 64 min-aggregates over every
    # shingle occurrence) once per side. The band table is tiny —
    # docs × BANDS rows of (long, int, string) — while the pipeline
    # that produces it is the most expensive stage of the operator,
    # so this persist halves signature cost for ~16 rows/doc of cache.
    bands = bands.persist()
    left = bands.select("band", "key", F.col("doc_id").alias("doc_a"))
    right = bands.select("band", "key", F.col("doc_id").alias("doc_b"))
    candidates = (
        left.join(right, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sh = sh_all
    return (
        candidates.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# SimHash uses 60 bits: signatures come from the first 15 hex chars of
# md5 (60 bits), which keeps every intermediate inside a signed INT64
# under ANSI arithmetic — and md5 exists in both Spark and DuckDB, so
# the whole operator is oracle-checkable.
SIMHASH_BITS = 60


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document over stopword-filtered terms.

    Classic Charikar construction: each term votes ±tf on every bit
    of its 60-bit md5; the signature sets bits with positive sums.
    Summing ±tf over distinct terms equals summing ±1 over raw term
    occurrences, so no term-frequency table is needed at all.

    Plan: occurrence stream (no term-frequency table, so the heavy
    ``(doc_id, term)`` shuffle never happens) → per-occurrence 60-bit
    md5 → ONE ``groupBy(doc_id)`` with *bit-sliced* popcount
    accumulators → bit fold in the projection. The 60× bit
    amplification never becomes rows at all — it's agg columns whose
    partials collapse map-side, so the only shuffle carries a few
    dozen longs per doc and wire volume is O(docs), independent of
    corpus text size.

    Bit-sliced accumulators: the ±1 vote sum for bit i is positive
    iff ``2·ones_i > n`` (ones_i = occurrences with bit i set), and
    ones for bits i and i+30 pack into ONE int64 sum —
    ``sum((h >> i) & (1 | 1<<30))`` accumulates ones_i in the low
    30-bit field and ones_{i+30} in the high field with no carries
    while a document has < 2^30 term occurrences (a ~5 GB single doc;
    far past any real document). 31 branchless shift-and-mask
    aggregates replace the prior 60 CASE WHEN sums — ~2× less
    whole-stage-codegen to compile and run for identical output.
    (An even earlier formulation exploded a row per bit through a
    ``groupBy(doc_id, bit)``; the accumulator forms skip the 60× row
    churn entirely.) Output: ``doc_id, simhash`` (docs with no
    surviving terms emit no row, matching the tf-based oracle
    formulation).
    """
    half = SIMHASH_BITS // 2  # 30: bits i and i+30 share an agg
    field_mask = (1 << half) - 1
    occ = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.explode(terms("text", keep_duplicates=True)).alias("term"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    # The 31 aggregates and the 60-term bit fold are generated as SQL
    # STRINGS and parsed JVM-side in a handful of calls: building them
    # as nested Column operations cost ~700 py4j round-trips — r13
    # measured 1.9-6.4 s of pure Python-side plan CONSTRUCTION per
    # call (the bench clears the shared-signature memo between
    # passes, so every pass paid it; the executed query itself runs
    # in ~0.2 s warm). Identical expression tree, same integer math.
    packed_mask = 1 | (1 << half)
    votes = occ.groupBy("doc_id").agg(
        F.expr("count(*) AS n_occ"),
        *[
            F.expr(f"sum(shiftright(h, {i}) & {packed_mask}) AS s{i}")
            for i in range(half)
        ],
    )
    bits = []
    for i in range(half):
        # ones_i lives in the low 30-bit field, ones_(i+half) in the
        # high field of the packed accumulator s{i}.
        bits.append(
            f"IF((s{i} & {field_mask}) * 2 > n_occ, {1 << i}L, 0L)"
        )
        bits.append(
            f"IF(shiftright(s{i}, {half}) * 2 > n_occ, {1 << (i + half)}L, 0L)"
        )
    return votes.select(
        "doc_id", F.expr(" + ".join(bits)).alias("simhash")
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates: blocked pairs with Hamming(simhash) ≤ k.

    ``bit_count(a XOR b)`` is one codegen'd instruction per pair; the
    block keeps the pair space linear-ish. (At true scale you'd block
    on simhash prefixes/rotations instead — same plan shape.)

    ``sigs``: optional prebuilt ``(doc_id, simhash)`` signature table.
    A hot block is split at ``MAX_BLOCK_ROWS`` rows (see
    :func:`bounded_block_join`).
    """
    sigs = (sigs if sigs is not None else simhash_signatures(docs)).join(
        docs.select(F.col("doc_id").alias("doc_id"), F.col("source").alias("blk")),
        "doc_id",
    )
    # Three derivations read this (doc_id, simhash, blk) table: both
    # self-join sides and the hot-block counts pass — persist the
    # 3-scalar-per-doc table instead of recomputing the signature
    # pipeline per branch (same reasoning as the MinHash band table).
    sigs = sigs.persist()
    a = sigs.select(
        F.col("blk"), F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    b = sigs.select(F.col("blk"), F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        bounded_block_join(a, b, "blk", "doc_a", "doc_b", MAX_BLOCK_ROWS)
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def fuzzy_key_pairs(
    docs: DataFrame,
    max_dist: int = 5,
    key_len: int = 32,
) -> DataFrame:
    """Edit-distance fuzzy matching: blocked pairs whose normalized
    text PREFIX keys are within ``max_dist`` Levenshtein edits — the
    typo-tolerant member of the dedup family (catches OCR noise and
    near-identical titles that shingle Jaccard misses when the edit
    falls inside most shingles).

    The key is the first ``key_len`` chars of the whitespace-collapsed
    lowercase text: Levenshtein is O(len²) per pair, so bounding the
    key bounds per-pair cost — the standard fuzzy-join key trick.
    Spark's thresholded ``levenshtein(a, b, k)`` short-circuits above
    ``k`` (banded DP, O(len·k)) and returns -1 there, so the filter
    keeps exactly the pairs a plain distance ``<= k`` would. Blocking
    + hot-block chunking bound the pair space like every other
    blocked pair generator here. Output: ``doc_a, doc_b, distance``.
    """
    keyed = docs.select(
        F.col("source").alias("blk"),
        F.col("doc_id").alias("doc_id"),
        F.substring(normalize_for_dedup("text"), 1, key_len).alias("k"),
    )
    a = keyed.select("blk", F.col("doc_id").alias("doc_a"), F.col("k").alias("ka"))
    b = keyed.select("blk", F.col("doc_id").alias("doc_b"), F.col("k").alias("kb"))
    dist = F.levenshtein("ka", "kb", max_dist)
    return (
        bounded_block_join(a, b, "blk", "doc_a", "doc_b", MAX_BLOCK_ROWS)
        .select("doc_a", "doc_b", dist.cast("int").alias("distance"))
        .where((F.col("distance") >= 0) & (F.col("distance") <= max_dist))
    )


def fuzzy_unblocked_pairs(
    docs: DataFrame,
    max_dist: int = 3,
    key_len: int = 32,
) -> DataFrame:
    """UNBLOCKED edit-distance fuzzy matching: all pairs whose
    full-length normalized-prefix keys are within ``max_dist``
    Levenshtein edits, found WITHOUT a block column and without Σ|b|²
    pair enumeration — the Levenshtein analog of
    :func:`simhash_hamming_candidates`.

    Segment banding (the PassJoin partition lemma — Li/Deng/Feng,
    ICDE 2011): split the ``key_len``-char key into ``max_dist + 1``
    contiguous segments. If ``ed(s, t) <= k``, pigeonhole over the
    optimal alignment leaves at least one segment of ``s`` untouched
    by any edit, so that segment occurs VERBATIM in ``t`` — shifted
    by at most the insertions-minus-deletions before it, i.e. within
    ±k positions. NOTE this is strictly stronger than same-position
    band agreement (the SimHash scheme): indels SHIFT later segments,
    so a same-position band join silently loses recall on any pair
    with an insert/delete. Hence the two-sided emission:

      * index side: each key's k+1 segments at their home offsets,
      * probe side: every substring of matching width starting within
        ±k of each segment's home offset ((k+1)·(2k+1) rows/key,
        constant in corpus size).

    Candidates are the ``(segment, content)`` equi-join of the two
    — 100% recall within k by the lemma, same plan shape as MinHash/
    SimHash banding — and each candidate is verified with Spark's
    thresholded banded-DP ``levenshtein(a, b, k)``. Equal key
    lengths make the lemma symmetric, so ``least/greatest``
    canonicalization plus ``distinct`` dedupes multi-band hits.

    Domain: docs whose normalized text reaches ``key_len`` chars
    (equal-length keys are what make the static segment boundaries
    sound). Shorter docs are a bounded tail at corpus scale and
    better served by :func:`exact_dedup` (the whole doc is tiny) or
    the blocked :func:`fuzzy_key_pairs`; they are excluded here, and
    the oracle twin applies the same ``length >= key_len`` predicate.

    Output: ``doc_a, doc_b, distance`` (doc_a < doc_b).
    """
    k = max_dist
    n_seg = k + 1
    if key_len < n_seg:
        raise ValueError(f"key_len {key_len} must be >= max_dist+1 ({n_seg})")
    base, rem = divmod(key_len, n_seg)
    widths = [base + (1 if i < rem else 0) for i in range(n_seg)]
    starts = [1 + sum(widths[:i]) for i in range(n_seg)]  # 1-based

    norm = normalize_for_dedup("text")
    keyed = docs.where(F.length(norm) >= key_len).select(
        F.col("doc_id").alias("doc_id"),
        F.substring(norm, 1, key_len).alias("key"),
    )
    index_structs = F.array(*[
        F.struct(
            F.lit(i).alias("seg"),
            F.substring("key", starts[i], widths[i]).alias("content"),
        )
        for i in range(n_seg)
    ])
    probe_structs = F.array(*[
        F.struct(
            F.lit(i).alias("seg"),
            F.substring("key", p, widths[i]).alias("content"),
        )
        for i in range(n_seg)
        for p in range(max(1, starts[i] - k),
                       min(starts[i] + k, key_len - widths[i] + 1) + 1)
    ])
    left = keyed.select(
        F.col("doc_id").alias("ia"), F.col("key").alias("ka"),
        F.explode(index_structs).alias("bk"),
    ).select("ia", "ka", F.col("bk.seg").alias("seg"), F.col("bk.content").alias("content"))
    right = keyed.select(
        F.col("doc_id").alias("ib"), F.col("key").alias("kb"),
        F.explode(probe_structs).alias("bk"),
    ).select("ib", "kb", F.col("bk.seg").alias("seg"), F.col("bk.content").alias("content"))
    cand = (
        left.join(right, ["seg", "content"])
        .where(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            # keys follow the id order so (ka, kb) is well-defined
            F.when(F.col("ia") < F.col("ib"), F.col("ka")).otherwise(F.col("kb")).alias("ka"),
            F.when(F.col("ia") < F.col("ib"), F.col("kb")).otherwise(F.col("ka")).alias("kb"),
        )
        .distinct()
    )
    dist = F.levenshtein("ka", "kb", k)
    return cand.select(
        "doc_a", "doc_b", dist.cast("int").alias("distance")
    ).where((F.col("distance") >= 0) & (F.col("distance") <= k))


def simhash_hamming_candidates(
    docs: DataFrame,
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """UNBLOCKED corpus-wide SimHash near-dups: all pairs with
    ``Hamming(simhash) <= max_hamming``, found without Σ|b|² pair
    enumeration — the scale path when no natural block column exists.

    Pigeonhole banding (the Manku/Jarvelin web-crawl near-dup scheme):
    split the 60-bit key into ``max_hamming + 1`` contiguous bands;
    two keys within Hamming distance k differ in at most k bands, so
    they must agree EXACTLY on at least one band. Candidates are then
    an equi-join on ``(band, band_key)`` — same plan shape as MinHash
    LSH banding, but the guarantee is exact (100% recall within k by
    pigeonhole), not probabilistic. Each false positive costs one
    codegen'd ``bit_count(xor)``.

    Band width trades bucket size against band count: k=3 → 4 bands
    of 15 bits, so uniformly-hashed corpora spread each band over
    2^15 keys and the bucket join stays linear-ish. Output:
    ``doc_a, doc_b, hamming`` (doc_a < doc_b).
    """
    n_bands = max_hamming + 1
    widths = [
        SIMHASH_BITS // n_bands + (1 if i < SIMHASH_BITS % n_bands else 0)
        for i in range(n_bands)
    ]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    sigs = sigs if sigs is not None else simhash_signatures(docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(
                    f"shiftright(simhash, {offsets[i]}) & {(1 << widths[i]) - 1}"
                ).alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    bands = sigs.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    left = bands.select(
        "band", "key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    right = bands.select(
        "band", "key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    return (
        left.join(right, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dup_components(
    pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: cluster pairwise
    matches into duplicate groups (the step after any similarity
    join; the cluster min-id is the canonical keeper).

    Min-label propagation, the standard Pregel-style algorithm: every
    node starts labeled with its own id; each round, nodes adopt the
    smallest label among themselves and their neighbors; converged
    when no label changes. Rounds needed = graph diameter (near-dup
    clusters are near-cliques, so 2-3 in practice).

    Each round is one distributed join + min-aggregation; lineage
    is truncated per round (``checkpointing.truncate_lineage``:
    ``localCheckpoint``, or fault-tolerant ``checkpoint()`` into the
    session's checkpoint dir when one is set — results identical). The
    driver-side loop holds only a changed-row COUNT, never data.

    Output: ``doc_id, component`` (= min doc_id reachable) for every
    doc appearing in at least one pair.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds: min-label propagation needs ~diameter rounds,
    so a duplicate chain longer than ``max_iter`` would otherwise
    return silently-wrong component labels. Each round also
    pointer-jumps (relabels through ``label -> label-of-label``), so
    convergence is O(log d) rounds, not O(d) — a chain of 10k docs
    converges in ~14 rounds, far under the default cap.
    """
    spark = pairs.sparkSession
    # Both-directions edge list in ONE explode pass, not a two-branch
    # union: union branches are not exchange-identical, so each one
    # re-derived the entire upstream pair join (the dominant cost of
    # the dedup pipeline) before the persist materialized.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_a"),
                        F.col("doc_b").alias("doc_b"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.doc_a", "_e.doc_b")
        .persist()
    )
    n_edges = sym.count()
    # Size each round's shuffles to the GRAPH, not the session
    # default: a small pair graph must not pay hundreds of near-empty
    # tasks per round (the iteration runs ~2 jobs x multiple stages
    # per round, so per-task overhead multiplies), while a huge one
    # keeps the session's full parallelism (~50k edges per task).
    conf_key = "spark.sql.shuffle.partitions"
    orig_parts = spark.conf.get(conf_key)
    parts = max(1, min(int(orig_parts), n_edges // 50_000 + 1))
    spark.conf.set(conf_key, str(parts))
    changed = 0
    try:
        labels = truncate_lineage(
            sym.select(F.col("doc_a").alias("node"))
            .distinct()
            .withColumn("label", F.col("node")),
            eager=True,
        )
        for _ in range(max_iter):
            msgs = sym.join(labels, sym.doc_a == labels.node).select(
                F.col("doc_b").alias("node"), "label"
            )
            prop = (
                labels.union(msgs)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # Pointer-jump: follow label -> that label's own label.
            # Every label is itself a node (labels start as node ids
            # and only ever take mins of them), so the lookup always
            # hits; chain depth halves per round.
            lut = prop.select(F.col("node").alias("_ln"), F.col("label").alias("_ll"))
            # LAZY truncation: the convergence count below is the
            # round's only job — it materializes new_labels into the
            # checkpoint cache while it counts (localCheckpoint
            # backfills skipped partitions at job end), instead of
            # paying one eager-checkpoint job plus one count job per
            # round (r13: the loop is driver-bound at bench scale, so
            # per-round job count is the cost).
            new_labels = truncate_lineage(
                prop.join(lut, prop.label == F.col("_ln"), "left")
                .select("node", F.coalesce("_ll", "label").alias("label")),
                eager=False,
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    finally:
        spark.conf.set(conf_key, orig_parts)
        sym.unpersist()
    if changed:
        raise RuntimeError(
            f"dup_components: labels still changing ({changed} nodes) after "
            f"{max_iter} rounds — graph diameter exceeds the iteration cap; "
            "raise max_iter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
