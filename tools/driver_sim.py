"""Driver-contract simulation (the /verify recipe, scripted).

Runs the way the driver does: a PLAIN SparkSession (no engine config — the
engine must tune the session itself), import __spark_entry__ by path, call
entry(spark) and collect, then run queries()[name](spark, sf_dir) side by
side with oracle_sql()[name] in DuckDB (tables registered as views over
<sf_dir>/<t>.parquet) and compare sorted rows with full-repr float
canonicalization (bitwise — stricter than any plausible driver hash).

Usage:  python tools/driver_sim.py [sf_dir] [query ...]
        (no queries -> entry smoke only)
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import math
import os
import sys

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    from decimal import Decimal

    if isinstance(v, Decimal):
        return str(v)
    return str(v)


def aligned_rows(columns: list[str], rows) -> list[tuple]:
    """Canonical rows with each row's values in sorted lower-case column-name
    order, so two engines that return the same columns in a different
    SELECT order compare equal; sorted for an order-insensitive compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    ).appName("driver-sim").getOrCreate()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rows = mod.entry(spark).collect()
    print(f"entry: {len(rows)} rows collected OK")

    qs = mod.queries()
    sqls = mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_fail = 0
    for name in names:
        fn = qs[name]
        sdf = fn(spark, sf_dir)
        s_rows = aligned_rows(sdf.columns, sdf.collect())
        cur = con.execute(sqls[name])
        o_names = [d[0] for d in cur.description]
        o_rows = aligned_rows(o_names, cur.fetchall())
        s_cols = sorted(c.lower() for c in sdf.columns)
        o_cols = sorted(c.lower() for c in o_names)
        ok = s_rows == o_rows and s_cols == o_cols
        print(f"{'PASS' if ok else 'FAIL'} {name}: spark={len(s_rows)} oracle={len(o_rows)}")
        if not ok:
            n_fail += 1
            if s_cols != o_cols:
                print(f"  cols spark={s_cols} oracle={o_cols}")
            for i, (a, b) in enumerate(zip(s_rows, o_rows)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark  {a}\n    oracle {b}")
                    break
            if len(s_rows) != len(o_rows):
                print(f"  row counts differ: {len(s_rows)} vs {len(o_rows)}")
    print(f"driver-sim: {len(names) - n_fail} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
