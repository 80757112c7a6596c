"""Local replica of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare with the DuckDB oracle_sql() —
row count, column-name set, and order-insensitive value equality.

Usage: python scripts/check_oracle.py [<query> ...]

With query names, only those queries run (an unknown name is an error),
and the closing ``N/M OK`` line counts the queries that ran."""

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as entrymod
from waka_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(norm_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows)


def main():
    qs = entrymod.queries()
    only = sys.argv[1:]
    unknown = [q for q in only if q not in qs]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    names = [n for n in qs if n in only] if only else list(qs)
    # local[SPARK_GRAFT_CPUS] with as many shuffle partitions, as Tier-1
    # runs; a result that changes with the parallelism is a bug
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name in names:
        t0 = time.time()
        try:
            spark_pdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"{name}: rows={len(spark_pdf)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if len(spark_pdf) == 0:
                failures.append(name)
                print(f"  !! zero rows")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"{name}: DUCKDB ERROR {str(e)[:200]}")
            continue
        sc, sr = canon(spark_pdf)
        dc, dr = canon(duck_pdf)
        status = []
        if len(sr) != len(dr):
            status.append(f"rowcount {len(sr)} vs {len(dr)}")
        if sc != dc:
            status.append(f"schema {sc} vs {dc}")
        if not status and sr != dr:
            diff = [
                (a, b) for a, b in zip(sr, dr) if a != b
            ][:3]
            status.append(f"values differ, first: {diff}")
        if status:
            failures.append(name)
            print(f"{name}: MISMATCH {'; '.join(status)} [{time.time()-t0:.1f}s]")
        else:
            print(f"{name}: OK rows={len(sr)} [{time.time()-t0:.1f}s]")
        # several operators persist() intermediates that live until the
        # session drops them; one long session running every query would
        # otherwise accumulate all of them in storage memory
        spark.catalog.clearCache()

    print(f"\n{len(names) - len(failures)}/{len(names)} OK")
    if failures:
        print("FAILED:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
