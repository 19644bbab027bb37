"""Scoped mirror of the driver's correctness gate: check only the
named queries (all remaining args), at $SPARK_GRAFT_SF_DIR or sf0.01.
Usage: python tools/oracle_check_one.py q1 [q2 ...]"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

from nadry_spark.session import get_spark
import __spark_entry__ as em

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
spark = get_spark("oracle_check_one", master="local[16]", shuffle_partitions=16)


def canon(v):
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, float):
        return round(v, 9)
    return v


fails = []
for name in sys.argv[1:]:
    q = em.queries()[name]
    sql = em.oracle_sql().get(name)
    sdf = q(spark, SF)
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
    o_ms = sorted(tuple(canon(dict(zip(ocolnames, r))[c]) for c in scols) for r in orows)
    ok = ok_cols and s_ms == o_ms
    print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(srows)} spark / {len(orows)} oracle rows)")
    if not ok:
        fails.append(name)
        if not ok_cols:
            print("  cols spark:", scols, " oracle:", ocols)
        shown = 0
        for a, b in zip(s_ms, o_ms):
            if a != b and shown < 3:
                print("  S:", a, "\n  O:", b)
                shown += 1
print("FAILURES:", fails if fails else "none")
