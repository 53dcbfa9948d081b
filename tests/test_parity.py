"""Randomized cross-engine parity tests: the engine's determinism invariants
(functions/money.py discipline) hold on adversarial random inputs, not just
on the driver tables — Spark and DuckDB must agree bit-for-bit."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from basin_climbing_data_pipeline_spark.functions.money import (
    money,
    money_sql,
    ratio,
    ratio_sql,
    sum_money,
    sum_money_sql,
)


def test_money_parity_random(spark):
    rng = random.Random(1234)
    # adversarial values: half-cent ties, tiny, huge, negative, high-precision
    vals = (
        [round(rng.uniform(-1e6, 1e6), rng.randint(0, 8)) for _ in range(400)]
        + [x + 0.005 for x in range(-5, 6)]
        + [0.0, -0.005, 1e-9, -1e-9, 123456789.995]
    )
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    s_rows = sorted(
        (r[0], r[1])
        for r in sdf.select(money(F.col("x")).alias("m"), F.col("x")).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    d_rows = sorted(con.execute(f"SELECT {money_sql('x')}, x FROM t").fetchall())
    assert s_rows == d_rows

    (s_sum,) = sdf.select(sum_money(F.col("x")).alias("s")).collect()[0]
    (d_sum,) = con.execute(f"SELECT {sum_money_sql('x')} FROM t").fetchone()
    assert s_sum == d_sum


def test_ratio_parity_random(spark):
    rng = random.Random(99)
    pairs = [(rng.uniform(0, 1e4), rng.uniform(1e-3, 1e4)) for _ in range(200)]
    sdf = spark.createDataFrame(pairs, "n double, d double")
    s = sorted(r[0] for r in sdf.select(ratio(F.col("n"), F.col("d"), 4).alias("r")).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (n DOUBLE, d DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    d = sorted(r[0] for r in con.execute(f"SELECT {ratio_sql('n', 'd', 4)} FROM t").fetchall())
    assert s == d


def test_merge_idempotent(spark):
    """Replaying the same fresh window into an already-merged table is a
    no-op (the reference's daily re-fetch overlap must not duplicate)."""
    import datetime as dt

    from basin_climbing_data_pipeline_spark.operators import incremental as inc

    d = dt.date
    existing = spark.createDataFrame(
        [("a", d(2024, 1, 1), 1), ("b", d(2024, 1, 6), 2)], "id string, d date, v int"
    )
    fresh = spark.createDataFrame(
        [("b", d(2024, 1, 6), 20), ("c", d(2024, 1, 7), 3)], "id string, d date, v int"
    )
    once = inc.replace_bounded_window_merge(
        existing, fresh, "d", d(2024, 1, 5), "9999-12-31", "id", ["d", "v"]
    )
    twice = inc.replace_bounded_window_merge(
        once, fresh, "d", d(2024, 1, 5), "9999-12-31", "id", ["d", "v"]
    )
    assert {tuple(r) for r in once.collect()} == {tuple(r) for r in twice.collect()}


def test_band_bucket_parity_random(spark):
    """The int64-micro hyperplane signature must agree bit-for-bit between
    the numpy UDF and the DuckDB SQL on adversarial random embeddings
    (including values that put plane sums near zero, where a float fold's
    sign would be add-order-dependent — the integer contract is exactly
    what makes this test deterministic)."""
    import random

    from basin_climbing_data_pipeline_spark.operators import similarity as sim

    rng = random.Random(99)
    vecs = [
        [rng.uniform(-1.0, 1.0) * (10 ** rng.randint(-6, 0)) for _ in range(sim.DIM)]
        for _ in range(300)
    ]
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    s_rows = sorted(
        (r["vec_id"], r["bucket"])
        for r in sdf.select(
            "vec_id", sim._band_buckets(5, n_bands=1)[0].alias("bucket")
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[{sim.DIM}])")
    # round-trip through float32 exactly as Spark's array<float> does
    import struct as _struct

    f32 = lambda x: _struct.unpack("f", _struct.pack("f", x))[0]
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(i, [f32(x) for x in v]) for i, v in enumerate(vecs)],
    )
    d_rows = sorted(
        con.execute(
            f"SELECT vec_id, {sim._band_bucket_sql('0')} AS bucket "
            "FROM embeddings, (SELECT 5 AS r) params"
        ).fetchall()
    )
    assert s_rows == d_rows


def test_transcendental_micro_parity_random(spark, tmp_path):
    """The micro-int ln/log10/pow discipline (zipf_slope,
    source_token_entropy, histogram_quantiles) must agree bit-for-bit on
    random corpora, not just the driver tables — transcendentals are the
    one place a libm ulp could diverge, and micro-rounding must absorb it."""
    import duckdb as ddb
    import pandas as pd

    from basin_climbing_data_pipeline_spark.operators.textstats import (
        source_token_entropy,
        source_token_entropy_sql,
        zipf_slope,
        zipf_slope_sql,
    )
    from basin_climbing_data_pipeline_spark.operators.sketches import (
        histogram_quantiles,
        histogram_quantiles_sql,
    )

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    did = 0
    for _ in range(250):
        # Zipfian-ish token pick so ranks/frequencies are adversarially uneven
        n = rng.randint(1, 120)
        toks = [vocab[min(int(rng.paretovariate(1.1)), 59)] for _ in range(n)]
        text = " ".join(toks)
        rows.append(
            (did, text, rng.choice(["en", "de"]), f"src{rng.randint(0, 4)}", len(text))
        )
        did += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    con = ddb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    for fn, sql in (
        (zipf_slope, zipf_slope_sql()),
        (source_token_entropy, source_token_entropy_sql()),
        (histogram_quantiles, histogram_quantiles_sql()),
    ):
        sdf = fn(spark, str(tmp_path))
        s = sorted(
            tuple(repr(v) for _, v in sorted(r.asDict().items())) for r in sdf.collect()
        )
        odf = con.execute(sql).df()
        o = sorted(
            tuple(
                repr(v.item() if hasattr(v, "item") else v)
                for _, v in sorted(rec.items())
            )
            for rec in odf.to_dict("records")
        )
        assert s == o, fn.__name__


def test_cogroup_spend_matches_native_join(spark, sf_dir):
    """The cogrouped applyInPandas alignment must agree row-for-row with
    the declarative range-join + groupBy plan it replaces."""
    from pyspark.sql import functions as F

    from basin_climbing_data_pipeline_spark.functions.money import to_cents
    from basin_climbing_data_pipeline_spark.operators.events import build_checkins
    from basin_climbing_data_pipeline_spark.operators.linking import (
        cogroup_spend_at_checkin,
    )
    from basin_climbing_data_pipeline_spark.operators.transactions import (
        build_transactions,
    )

    c = build_checkins(spark, sf_dir).select("checkin_id", "customer_id", "checkin_date")
    t = build_transactions(spark, sf_dir).select(
        "customer_id", "txn_date", to_cents(F.col("total_amount")).alias("cents")
    )
    native = (
        c.join(
            t,
            (c["customer_id"] == t["customer_id"])
            & (t["txn_date"] <= c["checkin_date"]),
            "left",
        )
        .groupBy("checkin_id", c["customer_id"], "checkin_date")
        .agg(
            F.count("txn_date").alias("n_txns_to_date"),
            (F.coalesce(F.sum("cents"), F.lit(0)) / 100.0).alias("spend_to_date"),
        )
    )
    got = {r["checkin_id"]: r for r in cogroup_spend_at_checkin(spark, sf_dir).collect()}
    want = {r["checkin_id"]: r for r in native.collect()}
    assert got.keys() == want.keys()
    mismatches = [
        k
        for k in want
        if (got[k]["n_txns_to_date"], got[k]["spend_to_date"])
        != (want[k]["n_txns_to_date"], want[k]["spend_to_date"])
    ]
    assert not mismatches, mismatches[:5]


def test_cogroup_worker_empty_sides():
    """A customer with checkins but no transactions gets zeros; a customer
    with transactions but no checkins contributes no rows."""
    import datetime as dt

    import pandas as pd

    from basin_climbing_data_pipeline_spark.operators.linking import _align_spend

    left = pd.DataFrame(
        {
            "checkin_id": [7, 3],
            "customer_id": [1, 1],
            "checkin_date": [dt.date(2024, 2, 1), dt.date(2024, 1, 1)],
            "checkin_day": [19754, 19723],
        }
    )
    right = pd.DataFrame({"customer_id": [], "txn_day": [], "total_amount": []})
    out = _align_spend(left, right)
    assert list(out["checkin_id"]) == [3, 7]
    assert list(out["n_txns_to_date"]) == [0, 0]
    assert list(out["spend_to_date"]) == [0.0, 0.0]

    out2 = _align_spend(left.iloc[0:0], pd.DataFrame({"customer_id": [1]}))
    assert len(out2) == 0
    assert list(out2.columns) == [
        "checkin_id", "customer_id", "checkin_date", "n_txns_to_date", "spend_to_date",
    ]
