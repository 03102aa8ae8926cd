"""Named-query registry with DuckDB oracle twins.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus an
optional ANSI-SQL string DuckDB can run against the same parquet
tables. Column names MUST match between the two (the differential
driver sorts columns by name before hashing values).

Entries without an oracle (streaming, LSH, other non-SQL-expressible
ops) get a rows-only check from the driver.
"""

from __future__ import annotations

import atexit
import importlib
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

# Modules that define queries; imported lazily on first access so the
# registry has no import-order footguns.
#
# ORDER MATTERS: the driver's correctness window walks the catalog in
# registration order and may cap out before the end, so the
# north-star families (index parity, LLM data pipeline, streaming,
# multimodal) register BEFORE the long relational tail.
_QUERY_MODULES = (
    "mapreduce_inverted_index_spark.plans.queries_index",
    "mapreduce_inverted_index_spark.plans.queries_llm",
    "mapreduce_inverted_index_spark.plans.queries_streaming",
    "mapreduce_inverted_index_spark.plans.queries_multimodal",
    "mapreduce_inverted_index_spark.plans.queries_sketches",
    "mapreduce_inverted_index_spark.plans.queries_pipeline",
    "mapreduce_inverted_index_spark.plans.queries_relational",
    "mapreduce_inverted_index_spark.plans.queries_relational_tpch",
)


# How a query behaves under a 100× scale-up — lets a large-SF catalog
# sweep mechanically include/exclude entries:
#   "production" — the form you'd run on the full corpus (default).
#   "demo"       — an exact/API-surface form whose plan is documented
#                  as NOT the scale path; its docstring names the
#                  production twin (test-enforced).
#   "contract"   — a recall/precision contract that anchors a scaled
#                  operator against a brute-force or replayed exact
#                  form; the anchor side is sf-gated/sampled, so the
#                  query runs at any SF but its *point* is the check,
#                  not throughput.
SCALE_CLASSES = ("production", "demo", "contract")


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    scale_class: str = "production"
    # SCALE-CAPABLE oracle twin (VERDICT r11 ask #3): a second DuckDB
    # SQL with IDENTICAL results that mirrors the engine's
    # banding/blocking (lossless candidate filters, unrolled
    # pointer-jumping) so decade sweeps (sf1+) get exact-value checks
    # where the NAIVE oracle is super-linear. The naive `oracle`
    # stays the driver gate at sf<=0.1 — it is the
    # independently-simple spec; the scaled twin is itself pinned
    # equal to it at fixture scale (tests/test_scaled_oracles.py).
    oracle_scaled: str | None = None


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    scale_class: str = "production",
    oracle_scaled: str | None = None,
):
    """Decorator: add a ``(spark, sf_dir) -> DataFrame`` to the catalog."""
    if scale_class not in SCALE_CLASSES:
        raise ValueError(f"unknown scale_class {scale_class!r} for {name!r}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, doc=doc,
            scale_class=scale_class, oracle_scaled=oracle_scaled,
        )
        return fn

    return deco


# this process's scratch root, keyed by pid: a forked child inherits
# the dict and the exit hook, and must neither reuse nor remove it
_WORK_ROOTS: dict[int, str] = {}


def work_root() -> str:
    """The directory every catalog query puts its per-process stores
    and work directories under: created on first use, removed at
    interpreter exit, so runs do not pile up directories in the
    system temp dir."""
    pid = os.getpid()
    if pid not in _WORK_ROOTS:
        root = tempfile.mkdtemp(prefix=f"mii_work_{pid}_")
        _WORK_ROOTS[pid] = root
        atexit.register(_remove_work_root, pid, root)
    return _WORK_ROOTS[pid]


def _remove_work_root(pid: int, root: str) -> None:
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


_LOADED = False


def _load() -> None:
    # Explicit flag, NOT "if _REGISTRY is empty": importing any query
    # module directly (e.g. for its cache-reset helper) pre-populates
    # _REGISTRY, which would silently skip loading the rest.
    global _LOADED
    _LOADED = True
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Allow partial builds: a missing query module just means
            # its queries aren't registered yet.
            if mod.rsplit(".", 1)[-1] not in str(e):
                raise


# The driver's correctness window checks only the FIRST 50 catalog
# entries per round, so catalog order is driver-evidence policy.
#
# ROUND 9 (VERDICT r8 asks #1 and #4): the window is now MECHANICAL —
# generated by ``python tools/driver_window.py --write`` from every
# committed CORRECTNESS_r*.json (never-driver-checked queries first,
# then ascending latest-green-round, registration-order tiebreak) and
# pinned by tests/test_driver_compat.py::test_driver_window_is_mechanical.
# ROUND-BOUNDARY RULE: landing a new CORRECTNESS_r*.json at the repo
# root changes this tool's output, so the regen MUST ride the same
# commit — re-run `python tools/driver_window.py --write` whenever a
# round's result files are committed (the tool warns on untracked
# CORRECTNESS files for exactly this reason).
_DRIVER_PRIORITY = (
    "term_first_positions",  # latest green r10
    "html_strip_clean",  # latest green r10
    "html_corpus_index",  # latest green r10
    "incremental_index_merge",  # latest green r10
    "gap_encoded_index",  # latest green r10
    "positional_index",  # latest green r10
    "phrase_query",  # latest green r10
    "bm25_topk",  # latest green r10
    "crawl_source_docs",  # latest green r10
    "crawl_sink_roundtrip",  # latest green r10
    "exact_dedup_docs",  # latest green r10
    "fuzzy_key_pairs",  # latest green r10
    "fuzzy_unblocked_pairs",  # latest green r10
    "ngram_jaccard_pairs",  # latest green r10
    "minhash_near_dup",  # latest green r10
    "simhash_signatures",  # latest green r10
    "simhash_candidate_pairs",  # latest green r10
    "simhash_hamming_pairs",  # latest green r10
    "embedding_near_dup",  # latest green r10
    "ann_cosine_topk",  # latest green r10
    "ann_lsh_topk",  # latest green r10
    "label_centroid_cosines",  # latest green r10
    "embedding_norm_profile",  # latest green r10
    "ann_ivf_topk",  # latest green r10
    "ann_ivf_recall_contract",  # latest green r10
    "ann_ivf_pruned_scan",  # latest green r10
    "semantic_dedup_contract",  # latest green r10
    "language_id",  # latest green r10
    "token_stats",  # latest green r10
    "curation_policy_filter",  # latest green r10
    "stream_tumbling_counts",  # latest green r10
    "stream_sliding_avg",  # latest green r10
    "stream_session_windows",  # latest green r10
    "stream_attribution_join",  # latest green r10
    "stream_enriched_segment_counts",  # latest green r10
    "stream_dedup_events",  # latest green r10
    "stream_stateful_user_peaks",  # latest green r10
    "media_features",  # latest green r10
    "frequent_bigrams",  # latest green r10
    "dq_profile_lineitem",  # latest green r10
    "prefix_query_index",  # latest green r11
    "minhash_incremental_dedup",  # latest green r11
    "semantic_incremental_contract",  # latest green r11
    "contrastive_negatives_docs",  # latest green r11
    "hard_negatives_topk",  # latest green r11
    "dedup_keep_best",  # latest green r11
    "train_val_test_split",  # latest green r11
    "corpus_shuffle_order",  # latest green r11
    "embedding_gram_matrix",  # latest green r11
    "embedding_pca_contract",  # latest green r11
)


def all_queries() -> dict[str, Query]:
    """The full catalog (loads query modules on first call).

    Iteration order = ``_DRIVER_PRIORITY`` first, then registration
    order; see the comment on ``_DRIVER_PRIORITY``.
    """
    if not _LOADED:
        _load()
    prioritized = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY if n in _REGISTRY}
    prioritized.update(_REGISTRY)
    return prioritized
