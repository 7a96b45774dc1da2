"""t2-style correctness: every declared query hash-matches its DuckDB oracle.

Runs at sf0.01 by default — the SAME tier the external driver checks, so a
local green run is the driver's signal (set SPARK_GRAFT_T2_DIR to
/root/testdata/sf0.001 for a faster smoke tier).
"""

from __future__ import annotations

import os

import pytest

from meshinsights_data_pipeline_spark.plans.queries import QUERIES
from tests.oracle_harness import compare

T2_DIR = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")


def test_every_oracle_output_type_is_portable():
    """No HUGEINT/DECIMAL may reach an oracle's final SELECT — x69 was
    driver-red for three rounds on exactly this (the type set and its
    rationale live in oracle_harness.PORTABLE_TYPES, the same contract
    compare() enforces per query)."""
    from tests.oracle_harness import PORTABLE_TYPES, duckdb_con

    con = duckdb_con(T2_DIR)
    offenders = []
    for name, q in QUERIES.items():
        for col, typ, *_ in con.execute(f"DESCRIBE {q.oracle}").fetchall():
            if not typ.startswith(PORTABLE_TYPES):
                offenders.append(f"{name}.{col}: {typ}")
    con.close()
    assert not offenders, (
        "non-portable oracle output types (CAST them in the final SELECT, "
        "as q15/x69 do): " + "; ".join(offenders)
    )


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, name):
    """Row count, column names, portable types and canonicalized values
    match the DuckDB oracle. At the sf0.01 tier every query must also
    return rows, since a 0-row match proves nothing; the optional sf0.001
    smoke tier skips that check because some queries (q08) are
    legitimately empty there."""
    q = QUERIES[name]
    report = compare(q.spark(spark, T2_DIR), q.oracle, T2_DIR)
    assert report["cols_match"], report
    assert report["rowcount_match"], report
    assert report["values_match"], report
    if os.path.basename(os.path.normpath(T2_DIR)) == "sf0.01":
        assert report["rows_spark"] > 0, report
