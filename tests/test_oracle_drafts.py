"""Oracle parity for the statistics query set (plans/stats_queries.py),
checked straight from its ``STATS_QUERIES`` pairs, independent of how
``plans.queries`` registers them (test_queries_oracle checks the same
queries through ``QUERIES``).

Same gate as test_query_matches_oracle: row count, column names,
portable output types, and canonicalized values vs DuckDB at sf0.01.
"""

from __future__ import annotations

import pytest

from meshinsights_data_pipeline_spark.plans.stats_queries import STATS_QUERIES
from tests.oracle_harness import compare

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(STATS_QUERIES))
def test_draft_matches_oracle(spark, name):
    fn, sql = STATS_QUERIES[name]
    df = fn(spark, SF_DIR)
    r = compare(df, sql, SF_DIR)
    assert r["values_match"] and r["cols_match"] and r["rowcount_match"], r
    assert r["rows_spark"] > 0  # a 0-row match would be vacuous
