"""Local mimic of the driver's oracle differential: run every queries() entry
in Spark and its oracle_sql() in DuckDB on the same sf dir; compare row count,
column names, and order-insensitive value multiset.

Usage: python tools/diffcheck.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    import duckdb
    sys.path.insert(0, ROOT)
    # the Python workers inherit the environment: import this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as entrymod
    from spark_shp.session import get_spark

    spark = get_spark(cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if filters:
        qs = {k: v for k, v in qs.items()
              if any(f in k for f in filters)}
    passed = failed = rows_only = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failed += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            rows_only += 1
            continue
        try:
            rel = con.sql(sql)
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed += 1
            continue
        scols_l = [c.lower() for c in scols]
        problems = []
        if sorted(scols_l) != sorted(ocols):
            problems.append(f"cols {scols_l} vs {ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            cs, co = canon(srows, scols_l), canon(orows, ocols)
            if cs != co:
                bad = next((i, a, b) for i, (a, b) in
                           enumerate(zip(cs, co)) if a != b)
                problems.append(f"values differ, first diff row "
                                f"{bad[0]}: {bad[1]} vs {bad[2]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed += 1
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            passed += 1
    print(f"\n{passed} ok, {failed} FAIL, {rows_only} rows-only")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
