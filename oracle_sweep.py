"""Check every QUERIES entry against its DuckDB oracle at one scale factor
(argv[1], default sf0.01): one status line per entry, then ``BAD: [...]``;
exits 1 when any entry mismatches or errors."""
import sys, math, time
import duckdb
from crawlspark.queries import QUERIES, warm_ann_indices
from crawlspark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = get_spark("sweep", master="local[32]", shuffle_partitions=32)
warm_ann_indices(spark, SF)
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else str(round(v, 4))
    return str(v)

bad = []
for name, (fn, sql) in QUERIES.items():
    t0, srows = time.time(), None
    try:
        sdf = fn(spark, SF)
        srows = sorted(tuple(norm(x) for x in r) for r in sdf.collect())
        if sql:
            drows = sorted(tuple(norm(x) for x in r)
                           for r in con.execute(sql).fetchall())
            ok = srows == drows
        else:
            ok = len(srows) > 0
        status = "OK" if ok else "MISMATCH"
        if not ok:
            bad.append(name)
    except Exception as e:
        status = f"ERR {e}"
        bad.append(name)
    print(f"{name:24s} {status} ({'?' if srows is None else len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
print("BAD:", bad)
spark.stop()
sys.exit(1 if bad else 0)
