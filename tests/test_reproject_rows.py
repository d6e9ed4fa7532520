"""Every reprojection registry row (one per spec-table row, plus the
combined families row) equals its DuckDB oracle: same columns, same row
count, same value multiset under the oracle differential's canonical form."""

import duckdb
import pytest

from spark_shp import queries_shp
from tools.diffcheck import canon

NAMES = [s.name for s in queries_shp._REPROJECT_ROWS] + [
    "shp_reproject_families"]


@pytest.mark.parametrize("name", NAMES)
def test_reproject_row_matches_oracle(spark, name):
    fn, sql = queries_shp.QUERIES[name]
    sdf = fn(spark, "")
    cols = [c.lower() for c in sdf.columns]
    rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    rel = con.sql(sql)
    ocols = [c.lower() for c in rel.columns]
    orows = rel.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows) > 0
    assert canon(rows, cols) == canon(orows, ocols)
