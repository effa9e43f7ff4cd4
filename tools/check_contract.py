"""Local replica of the driver's correctness gate: run each queries() entry
on Spark at sf0.01, run oracle_sql() in DuckDB on the same parquet views,
compare rowcount + sorted column names + order-insensitive values.

The session fits the host: ``local[$SPARK_GRAFT_CPUS]`` (``get_spark``'s
default) and a pre-touched heap of a quarter of physical memory, at most
16g, as ``perfbench.host.launch_settings`` sizes it. The Python workers get
the checkout on PYTHONPATH, so the tool runs from any directory."""
import os, sys, math
import pathlib; ROOT = pathlib.Path(__file__).resolve().parents[1]; sys.path.insert(0, str(ROOT))
import duckdb
import __spark_entry__ as E
from perfbench.host import mem_total_mb
from zelph_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2:] or None
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
heap_mb = min(16 * 1024, mem_total_mb() // 4)
spark = get_spark(extra_conf={"spark.driver.memory": f"{heap_mb}m"})
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon_val(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return f"{v:.6g}"
    return str(v)

qs, os_ = E.queries(), E.oracle_sql()
fails = []
for name, fn in qs.items():
    if only and name not in only: continue
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as ex:
        print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}"[:400]); fails.append(name); continue
    if name not in os_:
        print(f"OK?  {name}: rows-only ({len(sdf)} rows)")
        continue
    try:
        odf = con.sql(os_[name]).df()
    except Exception as ex:
        print(f"FAIL {name}: oracle error {ex}"[:400]); fails.append(name); continue
    scols, ocols = sorted(map(str.lower, sdf.columns)), sorted(map(str.lower, odf.columns))
    if scols != ocols:
        print(f"FAIL {name}: cols {scols} vs {ocols}"); fails.append(name); continue
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}"); fails.append(name); continue
    sset = sorted(tuple(canon_val(v) for v in row) for row in sdf[sorted(sdf.columns, key=str.lower)].itertuples(index=False))
    oset = sorted(tuple(canon_val(v) for v in row) for row in odf[sorted(odf.columns, key=str.lower)].itertuples(index=False))
    if sset != oset:
        diff = [i for i,(a,b) in enumerate(zip(sset,oset)) if a!=b][:3]
        print(f"FAIL {name}: values differ, e.g. idx {diff}:")
        for i in diff:
            print("   spark:", sset[i], "\n   oracle:", oset[i])
        fails.append(name); continue
    print(f"PASS {name}: {len(sdf)} rows")
print("\nRESULT:", "ALL PASS" if not fails else f"FAILS: {fails}")
