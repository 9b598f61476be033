"""Driver-replica: exercise __spark_entry__.py exactly as the harness would.

Creates a PLAIN SparkSession (no engine-side tuning — the driver won't use
our factory), imports the contract module, runs entry(), then every
queries()[name] at sf0.01 against oracle_sql()[name] via DuckDB with
row-count + column + exact value comparison.

Usage: python scripts/drive_contract.py [--shuffle SEED] [--sf DIR] [--only Q1,Q2]
  --shuffle SEED runs the catalog in a seeded RANDOM order instead of
  sorted — an order-dependence sweep: any query whose result depends on
  session state another query leaves behind (conf churn, temp views,
  cached plans, state stores) fails under some permutation. The r3
  driver-only hash mismatches motivated making this a one-flag check.
  --sf DIR compares at a different scale factor (default sf0.01, the
  driver's gate); sf0.1 is the 10x stress form — quadratic brute-force
  oracles take minutes there, so it is an occasional artifact run, not
  the per-change gate.
  --only Q1,Q2 checks just the named queries (comma-separated; an unknown
  name aborts before the comparisons start).

The script imports ``__spark_entry__`` from its own checkout (the parent
of ``scripts/``), so it can run from any working directory.
"""

import math
import os
import random
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as contract

SF_DIR = "/root/testdata/sf0.01"
if "--sf" in sys.argv:
    SF_DIR = sys.argv[sys.argv.index("--sf") + 1]

# driver-like session: defaults, no engine posture
spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-replica")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

t0 = time.time()
df = contract.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}, {time.time()-t0:.1f}s")
assert len(rows) > 0

con = duckdb.connect()
for name in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')")


def canon(v):
    if v is None:
        return "\0null"
    if isinstance(v, float):
        return "\0nan" if math.isnan(v) else v.hex()
    return str(v)


qs = contract.queries()
oracles = contract.oracle_sql()
names = sorted(qs)
if "--only" in sys.argv:
    only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    missing = only - set(names)
    assert not missing, f"--only names not in catalog: {sorted(missing)}"
    names = [n for n in names if n in only]
if "--shuffle" in sys.argv:
    seed = int(sys.argv[sys.argv.index("--shuffle") + 1])
    random.Random(seed).shuffle(names)
    print(f"order: shuffled (seed={seed})")
fail = 0
for name in names:
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        status = []
        if sorted(scols) != sorted(dcols):
            status.append(f"COLS spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            status.append(f"ROWS spark={len(srows)} duck={len(drows)}")
        if not status:
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            a = sorted(tuple(canon(r[i]) for i in order_s) for r in srows)
            b = sorted(tuple(canon(r[i]) for i in order_d) for r in drows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
                status.append(f"VALUES {diffs}")
        if status:
            fail += 1
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"ok   {name}: {len(srows)} rows  {time.time()-t0:.1f}s")
    except Exception as e:
        fail += 1
        print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")

print("RESULT:", "FAIL" if fail else "PASS", f"({len(qs)} queries, {fail} failing)")
sys.exit(1 if fail else 0)
