"""Simulate the driver: vanilla SparkSession, entry() smoke at sf0.001,
queries() vs oracle_sql() via DuckDB at sf0.01 (the real gate scale).
Each query line ends with its elapsed seconds (Spark build + collect and
the oracle); the 10 slowest queries are listed before the RESULT line."""
import sys, datetime, math, hashlib, time
from decimal import Decimal
sys.path.insert(0, "/root/repo")
import duckdb
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").getOrCreate()  # NO custom configs, like the driver
# Strict-codegen gate (r4 verdict #5): a whole-stage-codegen compile
# failure (e.g. a generated method past janino's 64 KB limit) normally
# falls back to interpreted execution with only a logged ERROR — correct
# results, silently slow. Disabling the fallback turns any such failure
# into a hard query error so it can't reappear unnoticed. This is a
# tightening-only conf: it cannot change any result, only fail loudly.
spark.conf.set("spark.sql.codegen.fallback", "false")
print("session tz:", spark.conf.get("spark.sql.session.timeZone"))

import __spark_entry__ as e

df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.schema.simpleString()}")
assert len(rows) > 0

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if isinstance(v, Decimal): v = float(v)
    if isinstance(v, datetime.datetime): return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date): return v.isoformat()
    if isinstance(v, float): return "NaN" if math.isnan(v) else repr(v)
    return v

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    vals = sorted([tuple(norm(r[i]) for i in order) for r in rows], key=repr)
    return sorted(cols), vals

q, o = e.queries(), e.oracle_sql()
only = set(sys.argv[1:])  # optional: verify just these query names
fails = 0
elapsed = {}
for name, fn in q.items():
    if only and name not in only:
        continue
    t0 = time.perf_counter()
    sdf = fn(spark, SF)
    scols, svals = canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    if name not in o:
        elapsed[name] = time.perf_counter() - t0
        print(f"  {name}: rows-only, {len(svals)} rows {elapsed[name]:.1f}s", flush=True)
        continue
    rel = con.execute(o[name])
    dcols, dvals = canon([d[0] for d in rel.description], rel.fetchall())
    elapsed[name] = time.perf_counter() - t0
    ok = scols == dcols and svals == dvals
    h = lambda v: hashlib.md5(repr(v).encode()).hexdigest()[:10]
    print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} rows={len(svals)}/{len(dvals)} hash={h(svals)}/{h(dvals)} {elapsed[name]:.1f}s", flush=True)
    if not ok:
        fails += 1
        if scols != dcols: print("    cols:", scols, "vs", dcols)
        else:
            diff = [(a,b) for a,b in zip(svals,dvals) if a!=b][:2]
            print("    first diffs:", diff)
print("10 slowest queries:")
for n, t in sorted(elapsed.items(), key=lambda kv: -kv[1])[:10]:
    print(f"  {t:7.1f}s  {n}")
print(f"total query time: {sum(elapsed.values()):.0f}s")
print("RESULT:", "ALL MATCH" if fails==0 else f"{fails} FAILURES")
