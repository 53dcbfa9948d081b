"""Similarity-path tests: cross-engine parity at multiple LSH plane counts
(the scale parameter), and the occupancy property the plane-count derivation
is supposed to guarantee."""

from __future__ import annotations

import duckdb
import pytest

from basin_climbing_data_pipeline_spark.operators import similarity as sim

TABLES = ("embeddings",)


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(repr(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def _spark_rows(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())
    return cols, rows


@pytest.mark.parametrize("n_planes", [4, 5])
def test_lsh_buckets_parity_at_plane_count(spark, sf_dir, n_planes):
    s_cols, s_rows = _spark_rows(sim.lsh_buckets(spark, sf_dir, n_planes=n_planes))
    o_cols, o_rows = _oracle(sf_dir, sim.lsh_buckets_sql(n_planes=n_planes))
    assert s_cols == o_cols
    assert s_rows == o_rows


@pytest.mark.parametrize("n_planes", [4, 5])
def test_near_dup_parity_at_plane_count(spark, sf_dir, n_planes):
    s_cols, s_rows = _spark_rows(
        sim.embedding_near_dup_pairs(spark, sf_dir, n_planes=n_planes)
    )
    o_cols, o_rows = _oracle(
        sf_dir, sim.embedding_near_dup_pairs_sql(n_planes=n_planes)
    )
    assert s_cols == o_cols
    assert s_rows == o_rows


def test_buckets_actually_split(spark, sf_dir):
    """Regression for the degenerate-coefficient bug: with R planes the
    corpus must spread over more than 2 buckets (identical planes collapse
    every signature to all-zeros or all-ones)."""
    rows = sim.lsh_buckets(spark, sf_dir, n_planes=4).collect()
    assert len(rows) > 2**2
    sizes = [r["n_vectors"] for r in rows]
    # no bucket should swallow the corpus (balance, not just distinctness)
    assert max(sizes) < 0.5 * sum(sizes)


def test_corpus_rows_cached_no_respark(spark, sf_dir, monkeypatch):
    """Plane sizing reads the corpus row count once per sf_dir (footer
    metadata, no Spark job); later invocations must hit the cache — a
    count() per query call would be a needless driver action at scale."""
    sim._CORPUS_ROWS.clear()
    n1 = sim._corpus_rows(spark, sf_dir)
    assert n1 > 0
    # poison both the footer path and the Spark fallback: a second call that
    # recomputes would now blow up
    import pyarrow.parquet as pq

    def _boom(*a, **k):
        raise AssertionError("corpus row count recomputed")

    monkeypatch.setattr(pq, "ParquetFile", _boom)
    monkeypatch.setattr(type(spark), "read", property(_boom), raising=False)
    assert sim._corpus_rows(spark, sf_dir) == n1


def test_planes_scale_with_corpus():
    assert sim._planes_for(1) == sim.MIN_PLANES
    assert sim._planes_for(64 * 16) == max(sim.MIN_PLANES, 4)
    assert sim._planes_for(10**9) >= 20  # ~16M buckets at 1e9 vectors
    # occupancy stays ≈ TARGET_OCCUPANCY across scales
    for n in (10**4, 10**6, 10**8):
        r = sim._planes_for(n)
        assert n / 2**r <= sim.TARGET_OCCUPANCY
        assert n / 2**r > sim.TARGET_OCCUPANCY / 4


def test_kmeans_objective_never_increases(spark, sf_dir):
    """Lloyd's guarantee: each assign/update round cannot increase the
    k-means objective.  With micro-int arithmetic the floored centroid
    means deviate from the true means by < 1 unit per dim, far below the
    assignment distances, so monotonicity must hold on real data."""
    from pyspark.sql import functions as F

    from basin_climbing_data_pipeline_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sim._micro_embedding().alias("e")
    )

    def objective(cents):
        cent_rows = sorted(
            (int(r["cluster_id"]), list(r["c"])) for r in cents.collect()
        )
        assigned = emb.select(
            sim._nearest_centroid(cent_rows).alias("cluster_id"), "e"
        )
        dist = F.aggregate(
            F.zip_with(F.col("e"), F.col("c"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        return (
            assigned.join(cents, "cluster_id")
            .select(dist.alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    seeds = emb.filter(F.col("vec_id") < sim.N_CENTROIDS).select(
        F.col("vec_id").alias("cluster_id"), F.col("e").alias("c")
    )
    # centroid_micro is serialized as a comma-joined string for the driver's
    # canonicalizer; parse it back to the integer vector
    refined = sim.kmeans_refine(spark, sf_dir).select(
        "cluster_id",
        F.transform(
            F.split("centroid_micro", ","), lambda s: s.cast("long")
        ).alias("c"),
    )
    assert objective(refined) <= objective(seeds)
    # refinement must actually move the centroids off the seed vectors
    moved = refined.join(seeds.withColumnRenamed("c", "seed_c"), "cluster_id").filter(
        F.col("c") != F.col("seed_c")
    )
    assert moved.count() > 0


def test_ann_recall_eval_invariants(spark, sf_dir):
    """One row per query; hits bounded by k; recall is the exact micro
    ratio of hits to k; every hit must be a real candidate (<= candidates)."""
    rows = sim.ann_recall_eval(spark, sf_dir).collect()
    assert len(rows) == sim.N_QUERIES
    for r in rows:
        assert 0 <= r["n_hits"] <= sim.TOP_K
        assert r["n_hits"] <= r["n_candidates"]
        assert r["recall_micro"] == (r["n_hits"] * 1000000) // sim.TOP_K


def test_minhash_error_eval_invariants(spark, sf_dir):
    """Strata cover 1..MINHASH_BANDS only; micro values stay in [0, 1e6];
    every stratum aggregates at least one pair."""
    from basin_climbing_data_pipeline_spark.operators import dedup as dd

    rows = dd.minhash_error_eval(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_band_collisions"] <= dd.MINHASH_BANDS
        assert r["n_pairs"] > 0
        assert 0 <= r["mean_abs_err_micro"] <= 1000000
        assert 0 <= r["max_abs_err_micro"] <= 1000000
        assert 0 <= r["mean_true_jaccard_micro"] <= 1000000


def test_quantization_fidelity_bounds(spark, sf_dir):
    """int8 scalar quantization must stay near-lossless on cosine (the
    operator's reason to exist); buckets partition the corpus exactly."""
    from basin_climbing_data_pipeline_spark.io import load_table

    rows = sim.quantization_error_eval(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_vectors"] for r in rows)
    n_corpus = load_table(spark, sf_dir, "embeddings").count()
    assert total == n_corpus
    for r in rows:
        assert 0 <= r["min_cos_micro"] <= r["mean_cos_micro"] <= 1000000
    # corpus-wide: nothing below 0.999 cosine after int8 round-trip
    assert all(r["fidelity"] != "<0.999" for r in rows)


def test_quantized_topk_recall_bounds(spark, sf_dir):
    """Recall is in [0,1]; int8 at 64 dims should preserve most neighbor
    sets (mean recall well above chance)."""
    from basin_climbing_data_pipeline_spark.operators.similarity import (
        TOP_K,
        quantized_topk_recall,
    )

    rows = quantized_topk_recall(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_overlap"] <= TOP_K
        assert 0 <= r["recall_micro"] <= 1_000_000
    mean_recall = sum(r["recall_micro"] for r in rows) / len(rows) / 1e6
    assert mean_recall >= 0.6, f"int8 recall collapsed: {mean_recall}"


def test_semantic_dedup_consistency(spark, sf_dir):
    """Cells partition the corpus; removals never exceed cell size minus
    one (a cell keeps at least its min-id member); pair counts bound
    removals."""
    from basin_climbing_data_pipeline_spark.io import load_table
    from basin_climbing_data_pipeline_spark.operators.similarity import semantic_dedup

    rows = semantic_dedup(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vectors"] for r in rows) == n_total
    for r in rows:
        assert r["n_kept"] == r["n_vectors"] - r["n_removed"]
        assert r["n_removed"] <= max(r["n_vectors"] - 1, 0)
        assert r["n_removed"] <= r["n_dup_pairs"]
        assert r["n_kept"] >= 1 or r["n_vectors"] == 0


def test_mmr_matches_python_greedy_reference(spark, sf_dir):
    """Replicate the MMR greedy chain in numpy with the same 1e-6
    fixed-point rounding and tie-breaks; the distributed K-step loop must
    produce the identical (query, rank) -> pick chain."""
    import math

    import numpy as np

    from basin_climbing_data_pipeline_spark.io import load_table

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    norms = {k: math.sqrt(float(np.dot(v, v))) for k, v in emb.items()}

    def cos_micro(a, b):
        return math.floor(
            float(np.dot(emb[a], emb[b])) / (norms[a] * norms[b]) * sim.COSINE_SCALE
            + 0.5
        )

    expected = {}
    for q in range(sim.N_QUERIES):
        rels = sorted(
            ((cos_micro(q, c), c) for c in emb if c != q),
            key=lambda t: (-t[0], t[1]),
        )[: sim.MMR_POOL]
        pool = {c: r for r, c in rels}
        selected = [rels[0][1]]
        while len(selected) < sim.MMR_K:
            best = None
            for c, r in pool.items():
                if c in selected:
                    continue
                maxsim = max(cos_micro(c, s) for s in selected)
                key = (-(7 * r - 3 * maxsim), c)
                if best is None or key < best[0]:
                    best = (key, c)
            selected.append(best[1])
        for rank, c in enumerate(selected, 1):
            expected[(q, rank)] = c

    got = {
        (r.query_id, r.sel_rank): r.corpus_id
        for r in sim.mmr_diversified_topk(spark, sf_dir).collect()
    }
    assert got == expected


def test_embedding_centroid_drift_matches_numpy(spark, sf_dir):
    """Re-derive the floored-micro centroids and cosine in numpy."""
    import math

    import numpy as np
    import pandas as pd

    from basin_climbing_data_pipeline_spark.operators.similarity import (
        COSINE_SCALE,
        MICRO,
        embedding_centroid_drift,
    )

    got = {r["label"]: r for r in embedding_centroid_drift(spark, sf_dir).collect()}
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    micro = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * MICRO + 0.5
    ).astype(np.int64)
    labels = emb["label"].to_numpy()
    gsum = micro.sum(axis=0)
    g = np.floor(gsum.astype(np.float64) / len(emb)).astype(np.int64)
    for lab in sorted(set(labels.tolist())):
        rows = micro[labels == lab]
        m = np.floor(rows.sum(axis=0).astype(np.float64) / len(rows)).astype(np.int64)
        dot = int((m * g).sum())
        mm, gg = int((m * m).sum()), int((g * g).sum())
        want = math.floor(dot / (math.sqrt(mm) * math.sqrt(gg)) * COSINE_SCALE + 0.5) / COSINE_SCALE
        r = got[lab]
        assert r["n_vecs"] == len(rows)
        assert r["cos_to_global"] == want
        assert -1.0 <= r["cos_to_global"] <= 1.0


def test_ivf_probe_sweep_monotone(spark, sf_dir):
    """More probes can only help: n_candidates and n_hits are monotone
    non-decreasing in nprobe per query, and recall at max nprobe dominates."""
    from basin_climbing_data_pipeline_spark.operators.similarity import (
        IVF_NPROBES,
        N_QUERIES,
        TOP_K,
        ivf_probe_recall_sweep,
    )

    rows = ivf_probe_recall_sweep(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * len(IVF_NPROBES)
    by_q: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["n_hits"] <= TOP_K
        assert r["n_hits"] <= r["n_candidates"] or r["n_candidates"] == 0
        by_q.setdefault(r["query_id"], []).append(r)
    for series in by_q.values():
        series.sort(key=lambda r: r["nprobe"])
        assert [r["nprobe"] for r in series] == list(IVF_NPROBES)
        for a, b in zip(series, series[1:]):
            assert a["n_candidates"] <= b["n_candidates"]
            assert a["n_hits"] <= b["n_hits"]
    # the sweep must show the dial doing something on this corpus
    total_1 = sum(s[0]["n_hits"] for s in by_q.values())
    total_max = sum(s[-1]["n_hits"] for s in by_q.values())
    assert total_max >= total_1
    assert total_max > 0


def test_pq_codebook_matches_numpy(spark, sf_dir):
    """Re-derive PQ assignment and distortion in numpy."""
    import numpy as np
    import pandas as pd

    from basin_climbing_data_pipeline_spark.operators.similarity import (
        MICRO,
        PQ_CODES,
        PQ_M,
        PQ_SUBDIM,
        pq_codebook_eval,
    )

    got = {r["subspace"]: r for r in pq_codebook_eval(spark, sf_dir).collect()}
    assert sorted(got) == list(range(PQ_M))
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    micro = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * MICRO + 0.5
    ).astype(np.int64)
    seeds = micro[emb["vec_id"].to_numpy() < PQ_CODES]
    for m in range(PQ_M):
        sub = micro[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        cb = seeds[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        codes = d.argmin(axis=1)  # numpy argmin takes first == lowest code_id
        err = int(d[np.arange(len(sub)), codes].sum())
        r = got[m]
        assert r["n_vectors"] == len(sub)
        assert r["n_codes_used"] == len(set(codes.tolist()))
        assert r["total_sq_err"] == err
        assert r["mean_sq_err"] == err // len(sub)


def test_embedding_dispersion_matches_bruteforce_pairwise_mean(spark, sf_dir):
    """The centroid identity (‖Σû‖² − Σ‖ûᵢ‖²) / (n(n−1)) must equal the
    O(n²) brute-force mean pairwise cosine of the SAME quantized unit
    vectors — exactly, since both sides are integer until one division."""
    import math

    import pyarrow.parquet as pq

    from basin_climbing_data_pipeline_spark.operators.similarity import (
        MICRO,
        embedding_dispersion_by_label,
    )

    got = {
        r["label"]: r.asDict()
        for r in embedding_dispersion_by_label(spark, sf_dir).collect()
    }

    rows = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()
    by_label: dict[int, list[list[int]]] = {}
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        # mirror the engine fold order: strict left fold, not fsum
        nrm = math.sqrt(_left_fold_dot(v, v))
        if nrm <= 0:
            continue
        u = [math.floor(x / nrm * MICRO + 0.5) for x in v]
        by_label.setdefault(r["label"], []).append(u)

    for label, units in by_label.items():
        n = len(units)
        assert got[label]["n_vecs"] == n
        if n < 2:
            assert got[label]["mean_pairwise_cosine"] is None
            continue
        total = 0
        for i in range(n):
            for j in range(i + 1, n):
                total += sum(a * b for a, b in zip(units[i], units[j]))
        want = (2 * total) / (n * (n - 1) * 1.0e12)
        want = math.floor(want * 1000000.0 + 0.5) / 1000000.0
        assert got[label]["mean_pairwise_cosine"] == want, label


def _left_fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def test_top_component_degenerate_corpus_counts_zero(spark, sf_dir, tmp_path):
    """Round-13 guard: n_vecs now rides the Gram collect (one bounded
    job) — on a corpus where every embedding is zero-norm the collect is
    empty and the count must still be exactly 0 with NULL stats, the
    same row the old separate count(*) job produced."""
    import shutil

    from pyspark.sql import functions as F

    dst = str(tmp_path / "zero_corpus")
    shutil.copytree(sf_dir, dst)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.select(
        "vec_id",
        F.transform("embedding", lambda _: F.lit(0.0).cast("float")).alias(
            "embedding"
        ),
        "label",
    ).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    from basin_climbing_data_pipeline_spark.operators.similarity import (
        embedding_top_component,
    )

    rows = embedding_top_component(spark, dst).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_vecs"] == 0
    assert r["top_eigen_share"] is None and r["residual"] is None


def test_top_component_mixed_zero_norm_rows_survive(spark, sf_dir, tmp_path):
    """A corpus where SOME embeddings are zero-norm must not crash (the
    round-13 subexpression-elimination finding: the codegen'd filter
    evaluates the unit division on rows it is about to drop) and must
    count exactly the non-zero rows — the same semantics the oracle's
    WHERE nrm > 0 has always had."""
    import shutil

    from pyspark.sql import functions as F

    dst = str(tmp_path / "mixed_corpus")
    shutil.copytree(sf_dir, dst)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    zeroed = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 2 == 0,
            F.transform("embedding", lambda _: F.lit(0.0).cast("float")),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    )
    zeroed.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    from basin_climbing_data_pipeline_spark.operators.similarity import (
        embedding_top_component,
    )

    r = embedding_top_component(spark, dst).collect()[0]
    n_nonzero = zeroed.filter(F.col("vec_id") % 2 != 0).count()
    assert r["n_vecs"] == n_nonzero
    assert r["top_eigen_share"] is not None and r["residual"] is not None
