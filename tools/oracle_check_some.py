"""Oracle-mirror check for a SUBSET of registry queries (fast
iteration loop for optimization work): tools/oracle_check.py semantics
(same canonicalization), but only the names passed on the CLI.

Usage: python tools/oracle_check_some.py [--sf DIR] name [name ...]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

from nadry_spark.session import get_spark
import __spark_entry__ as em

args = sys.argv[1:]
SF = "/root/testdata/sf0.01"
if args and args[0] == "--sf":
    SF = args[1]
    args = args[2:]
names = args

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
spark = get_spark("oracle_check_some", master="local[16]", shuffle_partitions=16)


def canon(v):
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, float):
        return round(v, 9)
    return v


queries = em.queries()
oracle = em.oracle_sql()
fails = []
for name in names:
    if name not in queries:
        print(f"{name}: NOT IN REGISTRY")
        fails.append(name)
        continue
    sql = oracle.get(name)
    sdf = queries[name](spark, SF)
    srows = sdf.collect()
    scols = sorted(sdf.columns)
    if sql is None:
        print(f"{name}: rows-only, {len(srows)} rows")
        continue
    res = con.execute(sql)
    ocols = sorted(d[0] for d in res.description)
    orows = res.fetchall()
    ocolnames = [d[0] for d in res.description]
    ok_cols = scols == ocols
    s_ms = sorted(tuple(canon(r[c]) for c in scols) for r in srows)
    o_ms = sorted(
        tuple(canon(dict(zip(ocolnames, r))[c]) for c in scols) for r in orows
    )
    ok = ok_cols and s_ms == o_ms
    print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(srows)} rows)")
    if not ok:
        fails.append(name)
print("FAILURES:", fails if fails else "none")
sys.exit(1 if fails else 0)
