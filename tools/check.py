#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run DuckDB oracle SQL
against the test parquet tables and compare with Verify.scala's parquet
dumps (row count, schema-insensitive sorted-value equality)."""
import sys, json, glob, math
import duckdb, pyarrow.parquet as pq

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    return str(v)

fails = 0
for name in sorted(oracle):
    try:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fails += 1; continue
        spark_t = pq.read_table(files[0]).to_pydict()
        duck = con.execute(oracle[name]).fetch_arrow_table().to_pydict()
        sk, dk = sorted(spark_t), sorted(duck)
        if sk != dk:
            print(f"FAIL {name}: columns {sk} vs {dk}"); fails += 1; continue
        srows = sorted(zip(*[map(norm, spark_t[k]) for k in sk])) if sk else []
        drows = sorted(zip(*[map(norm, duck[k]) for k in dk])) if dk else []
        if len(srows) != len(drows):
            print(f"FAIL {name}: rows {len(srows)} vs {len(drows)}"); fails += 1; continue
        if srows != drows:
            bad = [i for i,(a,b) in enumerate(zip(srows,drows)) if a!=b][:3]
            print(f"FAIL {name}: value mismatch at sorted rows {bad}")
            for i in bad: print(f"  spark={srows[i]}\n  duck ={drows[i]}")
            fails += 1; continue
        print(f"OK   {name}: {len(srows)} rows")
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}"); fails += 1
if not oracle:
    # an empty oracle set (e.g. a mistyped SPARK_GRAFT_ONLY) proves nothing
    print("NO ORACLE QUERIES compared: oracle_sql.json is empty")
    sys.exit(1)
print(f"{'ALL GREEN' if fails==0 else f'{fails} FAILURES'} / {len(oracle)} oracle queries")
sys.exit(1 if fails else 0)
