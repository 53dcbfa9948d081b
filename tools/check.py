"""Local correctness harness — mimics the driver's DuckDB-oracle gate.

For each query in the registry: run the Spark callable at the given sf_dir,
run the oracle SQL in DuckDB (tables pre-registered as views), and compare
row count, sorted column names, and an order-insensitive value hash.  Strict
float comparison (repr) by design — stricter than the driver is likely to be,
so passing here should mean passing there.

Usage:  python tools/check.py [sf_dir] [query ...] [--bitwise] [--json OUT.json]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datetime as dt
import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# --bitwise: canonicalize floats with FULL repr (no rounding, no -0.0
# normalization) — stricter than any plausible driver hash.  The repo's
# integer-micro/cents discipline should make Spark and DuckDB floats
# bitwise identical, so a loose-only pass marks a latent driver risk.
BITWISE = False


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if BITWISE:
            return repr(v)
        # normalize -0.0 and integral floats
        if v == 0:
            return "0.0"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, int):
        return str(v)
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    return sorted_cols, out


def value_hash(lines: list[str]) -> str:
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    # --json PATH: also write a machine-readable per-query record (status,
    # rows, seconds, git head) for the full-registry run.
    args = sys.argv[1:]
    global BITWISE
    if "--bitwise" in args:
        BITWISE = True
        args.remove("--bitwise")
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args) or args[i + 1].startswith("-") or os.path.isdir(args[i + 1]):
            raise SystemExit("usage: check.py [sf_dir] [query ...] [--bitwise] --json OUT.json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    from basin_climbing_data_pipeline_spark.registry import REGISTRY
    from basin_climbing_data_pipeline_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            results[name] = {"status": "fail", "err": f"spark: {e}"}
            n_fail += 1
            continue
        if sql is None:
            print(f"rows-only {name}: {len(s_rows)} rows  ({time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "rows": len(s_rows),
                             "sec": round(time.time() - t0, 2)}
            n_rows_only += 1
            continue
        try:
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            results[name] = {"status": "fail", "err": f"duckdb: {e}"}
            n_fail += 1
            continue

        sc, s_lines = canon_rows(s_cols, s_rows)
        dc, d_lines = canon_rows(d_cols, d_rows)
        problems = []
        if sc != dc:
            problems.append(f"schema: spark={sc} duckdb={dc}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount: spark={len(s_rows)} duckdb={len(d_rows)}")
        if not problems and value_hash(s_lines) != value_hash(d_lines):
            problems.append("value-hash mismatch")
            s_only = sorted(set(s_lines) - set(d_lines))[:3]
            d_only = sorted(set(d_lines) - set(s_lines))[:3]
            for line in s_only:
                problems.append(f"  spark-only : {line[:240]}")
            for line in d_only:
                problems.append(f"  duckdb-only: {line[:240]}")
        if problems:
            print(f"FAIL {name}  ({time.time()-t0:.1f}s)")
            for p in problems:
                print("   " + p)
            results[name] = {"status": "fail", "err": "; ".join(problems)[:500]}
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows  ({time.time()-t0:.1f}s)")
            results[name] = {"status": "pass", "rows": len(s_rows),
                             "sec": round(time.time() - t0, 2)}
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_path:
        import json
        import subprocess

        head = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip()
        with open(json_path, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "git_head": head,
                 "n_pass": n_pass, "n_fail": n_fail, "n_rows_only": n_rows_only,
                 "queries": results},
                f, indent=1, sort_keys=True,
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
