"""Simulate the driver's correctness gate: run each __spark_entry__
query at a given SF and compare against its DuckDB oracle
(row count + schema-name set + order-insensitive value hash)."""

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> tuple:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256(df.to_csv(index=False, float_format="%.9g").encode()).hexdigest()
    return len(df), sorted(df.columns), h


def main(sf_dir: str, only=None):
    import __spark_entry__ as entrymod
    from fuzzspark.session import get_spark, usable_cpus

    spark = get_spark("oracle-check", cpus=usable_cpus())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK ERROR: {e}"
            print(name, "SPARK ERROR", str(e)[:200])
            continue
        if name not in oracles:
            results[name] = f"rows-only: {len(sdf)} rows"
            print(f"{name:24s} rows-only  rows={len(sdf)}  "
                  f"{time.time()-t0:.1f}s")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(name, "ORACLE ERROR", str(e)[:200])
            continue
        cs, co = canon(sdf), canon(odf)
        ok = cs == co
        results[name] = "OK" if ok else f"MISMATCH spark={cs[:2]} oracle={co[:2]}"
        print(f"{name:24s} {'OK' if ok else 'MISMATCH':8s} rows={cs[0]}/{co[0]} "
              f"{time.time()-t0:.1f}s")
        if not ok:
            if cs[0] == co[0] and cs[1] == co[1]:
                s = sdf[sorted(sdf.columns)].sort_values(by=sorted(sdf.columns)).reset_index(drop=True)
                o = odf[sorted(odf.columns)].sort_values(by=sorted(odf.columns)).reset_index(drop=True)
                diff = (s != o)
                print("  value dtypes spark:", dict(s.dtypes.astype(str)))
                print("  value dtypes oracle:", dict(o.dtypes.astype(str)))
                bad = diff.any(axis=1)
                print(s[bad].head(3))
                print(o[bad].head(3))
    spark.stop()
    n_bad = sum(1 for v in results.values() if v not in ("OK",) and
                not str(v).startswith("rows-only"))
    print(f"\n{len(results)} queries, {n_bad} problems")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
