"""Simulate the driver harness: plain default SparkSession, entry() smoke,
then a sample of queries() vs oracle_sql() at sf0.01 with an
order-insensitive value hash — the same shape of check the driver runs."""
import hashlib
import math
import os
import sys
from datetime import datetime, date

import duckdb
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# queries vs oracle at sf0.01 (override with SPARKLYCLEAN_SIM_SF)
SF = os.environ.get("SPARKLYCLEAN_SIM_SF", "/root/testdata/sf0.01")

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{round(v, 4):.4f}"
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        # DATE columns reach us as datetime.date via collect/fetchall but as
        # midnight Timestamps via the pandas paths; the driver is observed to
        # treat those as equal (daily_revenue_rolling7 green r6), so render
        # midnight datetimes date-only to keep the pandas pair comparable.
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)

def valhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]

def main() -> None:
    # Driver-like session: defaults only, no sparklyclean_spark config.
    spark = (
        SparkSession.builder.appName("driver-sim")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    print("session timezone:", spark.conf.get("spark.sql.session.timeZone"))

    sys.path.insert(0, ROOT)
    import __spark_entry__ as E

    # 1. entry smoke
    df = E.entry(spark)
    rows = df.collect()
    print("entry(): rows =", len(rows), "schema =", df.schema.simpleString())
    assert len(rows) > 0

    # 2. queries vs oracle
    print("sim sf dir:", SF)
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    Q = E.queries()
    O = E.oracle_sql()
    sample = sys.argv[1:] or list(O)
    fails = []
    for name in sample:
        sdf = Q[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        if name not in O:
            # rows-only check (non-SQL-expressible op), like the driver's
            print(f"OK  {name}: rows-only, spark={len(srows)} schema={sdf.schema.simpleString()}")
            continue
        res = con.execute(O[name])
        ecols = [d[0] for d in res.description]
        erows = res.fetchall()
        # Pandas fetch pair: the r6 red rows proved the real driver materializes
        # results via pandas, where DuckDB HUGEINT (SUM over integers) becomes
        # float64 ("6035.0000" vs "6035") while Spark's bigint stays int64. Check
        # BOTH aligned pairs — collect<->fetchall and toPandas<->df — an oracle is
        # only OK when each pairing renders identically. (Cross-pair hashes can
        # legitimately differ: DATE renders as Timestamp under pandas on both
        # engines, which is consistent within the pair.)
        spdf = sdf.toPandas()
        sprows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        opdf = con.execute(O[name]).df()
        oprows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]
        h1 = valhash(sdf.columns, srows)
        h2 = valhash(ecols, erows)
        h3 = valhash(list(spdf.columns), sprows)
        h4 = valhash(list(opdf.columns), oprows)
        ok = (
            len(srows) == len(erows)
            and sorted(sdf.columns) == sorted(ecols)
            and h1 == h2
            and h3 == h4
        )
        note = "" if h3 == h4 else " [pandas-pair divergence: un-cast HUGEINT / NULL-int / decimal?]"
        print(f"{'OK ' if ok else 'FAIL'} {name}: spark={len(srows)} oracle={len(erows)} hash {h1} vs {h2} | pandas {h3} vs {h4}{note}")
        if not ok:
            fails.append(name)
    print("FAILURES:", fails if fails else "none")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
