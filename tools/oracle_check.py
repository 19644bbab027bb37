"""Standalone mirror of the driver's correctness gate at a given sf."""
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from nadry_spark.session import get_spark
import __spark_entry__ as em

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
spark = get_spark("oracle_check", master="local[16]", shuffle_partitions=16)

def canon(v):
    if isinstance(v, list): return tuple(canon(x) for x in v)
    if isinstance(v, float): return round(v, 9)
    return v

fails = []
for name, q in em.queries().items():
    sql = em.oracle_sql().get(name)
    sdf = q(spark, SF); srows = sdf.collect(); scols = sorted(sdf.columns)
    if sql is None:
        print(f"{name}: rows-only, {len(srows)} rows"); continue
    res = con.execute(sql); ocols = sorted(d[0] for d in res.description); orows = res.fetchall()
    ocolnames = [d[0] for d in res.description]
    ok_cols = scols == ocols
    s_ms = sorted(tuple(canon(r[c]) for c in scols) for r in srows)
    o_ms = sorted(tuple(canon(dict(zip(ocolnames, r))[c]) for c in scols) for r in orows)
    ok = ok_cols and s_ms == o_ms
    print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(srows)} rows)")
    if not ok: fails.append(name)
print("FAILURES:", fails if fails else "none")
