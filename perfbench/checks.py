"""Output checks, run after the timed phase.

Registry results are compared with their ``registry.oracle_sql()`` entry in
DuckDB, canonicalised by ``tools/check.py``'s ``canon_rows``/``value_hash``.
Staged tables are fingerprinted the same way and compared with
``fingerprints.json``, the recorded fingerprints of their builders' oracle
SQL over the nightly tables.  The intraday tables are compared with a DuckDB
splice of the same windows.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import duckdb
from tools.check import TABLES, canon_rows, value_hash

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[list[str], int, str]:
    sc, lines = canon_rows(list(cols), rows)
    return sc, len(lines), value_hash(lines)


def duck_fingerprint(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], int, str]:
    res = con.execute(sql)
    return fingerprint([d[0] for d in res.description], res.fetchall())


def parquet_fingerprint(glob: str) -> tuple[list[str], int, str]:
    """Fingerprint of the parquet files matching ``glob`` (runs in a pool
    worker: canonicalising rows is pure Python and one table per process
    spreads it over the cores Spark no longer uses)."""
    with duckdb.connect() as con:
        return duck_fingerprint(con, f"SELECT * FROM read_parquet('{glob}')")


def diff(got: tuple, want: tuple) -> str | None:
    """None when two fingerprints agree, else what differs."""
    if got[0] != want[0]:
        return f"schema {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"rows {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return "value-hash mismatch"
    return None


def check_query(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    got = fingerprint(spark_df.columns, [tuple(r) for r in spark_df.collect()])
    return diff(got, duck_fingerprint(con, sql))


def staging_oracles() -> dict[str, str]:
    """Staged table name -> oracle SQL of its builder: the registry entry
    whose callable wraps the same builder, else the builder module's
    ``<table>_sql()``."""
    import importlib

    from basin_climbing_data_pipeline_spark.registry import REGISTRY
    from basin_climbing_data_pipeline_spark.sources.staging import STAGING_CATALOG

    by_fn = {id(fn.__wrapped__): sql for fn, sql in REGISTRY.values()}
    out = {}
    for t in STAGING_CATALOG:
        sql = by_fn.get(id(t.builder))
        if sql is None:
            sql = getattr(importlib.import_module(t.builder.__module__), f"{t.name}_sql")()
        out[t.name] = sql
    return out


def splice(con: duckdb.DuckDBPyConnection, base_sql: str, windows: list[tuple[str, str, str]],
           date_col: str, id_col: str, order_cols: list[str]) -> None:
    """Batch splice in DuckDB into table ``spliced``: start from
    ``base_sql``; for each ``(window_sql, lo, hi)`` in arrival order keep the
    stored rows outside ``[lo, hi]``, add the window's rows inside it, and
    keep one row per id, fresh rows first — the documented semantics of
    ``replace_bounded_window_merge``."""
    con.execute(f"CREATE OR REPLACE TABLE spliced AS {base_sql}")
    order = ", ".join(order_cols)
    for window_sql, lo, hi in windows:
        con.execute(
            f"""CREATE OR REPLACE TABLE spliced AS
            SELECT * EXCLUDE (_fresh, _rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY {id_col} ORDER BY _fresh DESC, {order}) AS _rn
              FROM (
                SELECT *, 0 AS _fresh FROM spliced
                 WHERE {date_col} < DATE '{lo}' OR {date_col} > DATE '{hi}'
                UNION ALL BY NAME
                SELECT *, 1 AS _fresh FROM ({window_sql})
                 WHERE {date_col} >= DATE '{lo}' AND {date_col} <= DATE '{hi}'
              )
            ) WHERE _rn = 1"""
        )


def recorded_fingerprints() -> dict[str, list]:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def oracle_fingerprints() -> dict[str, list]:
    """Fingerprint of every staged table's oracle over the nightly tables."""
    import gen

    with tempfile.TemporaryDirectory() as d:
        gen.write_tables(gen.make_tables(gen.NIGHTLY_DATA_SEED, gen.SCALE), d)
        con = connect(d)
        return {name: list(duck_fingerprint(con, sql)) for name, sql in staging_oracles().items()}


if __name__ == "__main__":
    # python3 perfbench/checks.py --record: rewrite fingerprints.json from
    # the oracles (run after a deliberate change to a staged table's output)
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: checks.py --record")
    with open(FINGERPRINTS, "w") as f:
        json.dump(oracle_fingerprints(), f, indent=1, sort_keys=True)
        f.write("\n")
