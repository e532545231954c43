"""``sql_scripting_iterative`` replaces the oracle's per-round re-count
with one top-100 probe; it must still land on the recursive CTE's
answer at the edges of that equivalence (fewer than 100 prices, ties at
the 100th price, null prices), and its build must stay a bounded number
of jobs."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from open_source_etl_spark.oracle import canonical_pdf
from open_source_etl_spark.registry import ORACLES, all_queries

NAME = "sql_scripting_iterative"

CASES = {
    # 60 priced rows: the loop never runs
    "under_100": [1.0e6] * 60 + [10.0] * 5,
    # the 100th price (16000) ties across five rows: > 8000 holds for
    # 104 rows, > 16000 for only 99
    "tie_at_100th": [1.0e5] * 99 + [16000.0] * 5 + [700.0] * 30,
    # nulls count for neither side: 100 non-null prices above 2000
    "null_prices": [None] * 150 + [3000.5] * 100 + [500.0] * 20,
    # as many nulls, but only 99 non-null prices above the threshold
    "nulls_under_100": [None] * 300 + [9.0e5] * 99,
}


def _orders_dir(tmp_path, prices) -> str:
    d = tmp_path / "sf"
    d.mkdir()
    table = pa.table(
        {
            "o_orderkey": pa.array(range(len(prices)), pa.int64()),
            "o_totalprice": pa.array(prices, pa.float64()),
        }
    )
    pq.write_table(table, d / "orders.parquet")
    return str(d)


@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_recursive_cte_oracle(spark, tmp_path, case):
    sf = _orders_dir(tmp_path, CASES[case])
    got = canonical_pdf(all_queries()[NAME](spark, sf).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')")
    want = canonical_pdf(con.execute(ORACLES[NAME]).df())
    assert got == want


def test_build_fires_at_most_25_jobs(spark, sf_dir):
    sc = spark.sparkContext
    group = "test-sql-scripting-build"
    sc.setJobGroup(group, group)
    try:
        all_queries()[NAME](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 25
