"""Differential tests: every registered query with an oracle runs on
PySpark AND DuckDB; results must match (row count, columns, values).

This mirrors the driver's CORRECTNESS gate so mismatches surface
locally first. Scale via MII_TEST_SF_DIR (default sf0.01 = driver's).
"""

from __future__ import annotations

import pytest

from mapreduce_inverted_index_spark.plans.registry import all_queries
from tests.oracle_harness import compare, run_oracle

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, sf_oracle, query_df, name):
    q = _QUERIES[name]
    # session query_df cache: the differential builds each query
    # first (construct, then materialize back to back); the
    # catalog-wide schema guard is sorted last (conftest) and reuses
    # these builds instead of re-paying their eager work
    sdf = query_df(name, sf_oracle)
    if q.oracle is None:
        # rows-only check (non-SQL-expressible op)
        assert sdf.count() >= 0
        return
    opdf = run_oracle(q.oracle, sf_oracle)
    problems = compare(sdf, opdf)
    assert not problems, f"{name}: " + "; ".join(problems)
