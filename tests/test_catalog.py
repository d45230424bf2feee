"""Catalog-wide smoke + oracle parity at sf0.001 (fast tier; the driver's
harness and tools/check_oracle.py run the same compare at sf0.01)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from hive_udf_neologd_spark.catalog import ORACLES, QUERIES
from hive_udf_neologd_spark.sources import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.map(lambda v: "<null>" if v is None or v != v else (repr(v) if isinstance(v, float) else str(v)))
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def test_catalog_complete():
    assert len(QUERIES) >= 30
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    sql = ORACLES.get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.execute(sql).fetch_df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    a, b = _canon(sdf), _canon(ddf)
    pd.testing.assert_frame_equal(a, b)


def test_q34_hll_estimate_within_bound(spark, duck):
    """q34 is oracle-gated via its self-check column: the HLL estimate must
    sit within 2% of Spark's own exact countDistinct (rsd=0.01 → wide
    margin), and the exact counts must equal DuckDB's."""
    sdf = (
        QUERIES["q34_approx_distinct"](spark, SF_DIR)
        .toPandas()
        .set_index("c_mktsegment")
    )
    assert sdf["estimate_within_2pct"].all()
    exact = duck.execute(
        """
        SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    ).fetch_df().set_index("c_mktsegment")
    for seg, row in exact.iterrows():
        assert sdf.loc[seg, "n_customers"] == row["n"]
