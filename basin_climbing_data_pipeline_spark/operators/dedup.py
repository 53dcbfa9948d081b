"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash — the large-scale training-data dedup family (BASELINE.json
north-star), all as declarative DataFrame programs with DuckDB oracles.

Hashing is md5-derived everywhere so Spark and DuckDB agree bit-for-bit:
``h32(s) = int(md5(s)[:8], 16)`` — Spark ``conv(substring(md5(s),1,8),16,10)``,
DuckDB ``('0x' || substr(md5(s),1,8))::bigint``.

Scale design (the point of this module):

- exact: one groupBy on the text hash — minimal shuffle, no text comparison.
- n-gram Jaccard: shingle inverted-index join (explode shingles → equi-join
  on shingle → per-pair overlap counts), NOT pairwise text comparison; the
  shingle join is the only shuffle and it's blocked by the shingle key.
- MinHash+LSH: k=16 signatures as 16 exact min-aggregations over the shingle
  hash set; banding (8 bands × 2 rows) turns near-dup search into an
  equi-join on (band, band_signature); true Jaccard verified only for LSH
  candidates — candidates ≪ n², which is what makes 100 TB feasible.
- SimHash: 16-bit signature from per-word hash bits; the pigeonhole split
  into 4 nibbles turns hamming≤3 search into 4 equi-joins on (chunk, value),
  then verify with bit_count(xor).

The synthetic corpus has no planted near-dups (max 3-gram Jaccard ≈ 0.05),
so thresholds are set low enough to exercise candidate-generation + verify
end-to-end; the operators' structure is threshold-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import dec38
from ..io import load_table, materialized, tracked_persist

MINHASH_K = 16
MINHASH_BANDS = 8  # 2 rows per band
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
JACCARD_THRESHOLD = 0.03
CONTAINMENT_THRESHOLD = 0.12  # |A∩B| / min(|A|,|B|) over the pruned shingle space
SIMHASH_BITS = 16
SIMHASH_MAX_HAMMING = 3

# ---------------------------------------------------------------------------
# shared shingle scaffolding
# ---------------------------------------------------------------------------


def _shingles_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, shingle, h32) from any (doc_id, lang, text) frame —
    distinct 3-word shingles per doc with 32-bit md5-derived hashes."""
    # hoist the word split into its own projection: inside the transform
    # lambda Spark re-evaluates split(trim(text)) per element (no CSE across
    # a lambda boundary), which is O(words²) splitting per document —
    # measured 9x slower than splitting once (3.2s vs 0.35s at sf0.1)
    words = docs.select("doc_id", "lang", F.split(F.trim(F.col("text")), " ").alias("w"))
    # the index filter (i+2 < size) is load-bearing, not defensive: under
    # ANSI mode an out-of-range w[i+2] THROWS (Spark 4 default), so a doc
    # under 3 words would crash the whole job — short docs must yield an
    # EMPTY shingle set, which is also what the DuckDB oracle produces
    # (its out-of-range index is NULL, the || propagates, and the
    # IS NOT NULL filter drops the row)
    shingles = F.expr(
        "array_distinct(transform("
        " filter(sequence(0, greatest(size(w) - 3, 0)), i -> i + 2 < size(w)),"
        " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
    )
    out = words.select(
        "doc_id", "lang", F.explode(shingles).alias("shingle")
    ).filter(F.col("shingle").isNotNull() & (F.col("shingle") != ""))
    return out.withColumn(
        "h32", F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    )


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shingles: :func:`_shingles_from_docs` over the documents table."""
    return _shingles_from_docs(load_table(spark, sf_dir, "documents"))


_SHINGLES_SQL = """
shingle_rows AS (
  SELECT doc_id, lang, unnest(list_distinct(
           [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
            FOR i IN range(1, greatest(len(words) - 1, 2))]
         )) AS shingle
  FROM (SELECT doc_id, lang, string_split(trim(text, ' '), ' ') AS words FROM documents)
),
shingles AS (
  SELECT doc_id, lang, shingle,
         ('0x' || substr(md5(shingle), 1, 8))::bigint AS h32
  FROM shingle_rows
  WHERE shingle IS NOT NULL AND shingle != ''
)
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _exact_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text_hash) — THE exact-dedup key projection, shared by
    :func:`exact_dedup` and :func:`exact_canonical_ids` (and mirrored by
    exact_dedup_sql) so the dedup key can never silently diverge between
    the flagging and funnel surfaces.  The hash uses :func:`fold_norm`,
    not plain lower() — engine lowercasing diverges on Unicode
    special-casing (Greek final sigma), which would make the dedup KEY
    itself engine-dependent."""
    from ..functions.text import fold_norm

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(fold_norm(F.col("text"))).alias("text_hash"))


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by text hash: keep the lowest doc_id per group; report
    every doc with its canonical id and group size (n_dupes = 1 → unique).
    Key construction lives in :func:`_exact_hashed`."""
    hashed = _exact_hashed(spark, sf_dir)
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_dupes")
    )
    return (
        hashed.join(groups, "text_hash")
        .select("doc_id", "canonical_doc_id", "n_dupes", (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"))
        .orderBy("doc_id")
    )


def exact_canonical_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id) of exact-dedup canonical docs — min doc_id per text-hash
    group, WITHOUT the join-back that :func:`exact_dedup` needs to flag
    every doc.  Funnel-style consumers that only need the surviving id
    set (corpus_funnel) use this: one groupBy instead of groupBy + join,
    identical id set by construction (same :func:`_exact_hashed` key)."""
    return (
        _exact_hashed(spark, sf_dir)
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def exact_dedup_sql() -> str:
    from ..functions.text import FOLD_NORM_SQL

    norm = FOLD_NORM_SQL.format(c="text")
    return f"""
WITH hashed AS (
  SELECT doc_id, md5({norm}) AS text_hash FROM documents
),
groups AS (
  SELECT text_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_dupes
  FROM hashed GROUP BY text_hash
)
SELECT h.doc_id, g.canonical_doc_id, g.n_dupes,
       h.doc_id = g.canonical_doc_id AS is_canonical
FROM hashed h JOIN groups g USING (text_hash)
ORDER BY h.doc_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard via shingle inverted index
# ---------------------------------------------------------------------------


MAX_SHINGLE_DF = 50  # document-frequency pruning: drop "stop shingles"


@materialized("pruned_shingles")
def _pruned_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, shingle) with document-frequency pruning applied —
    the shared inverted-index input of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`.  Materialized: both overlap queries (and
    any future set-similarity variant) scan one stored build.  The df
    count rides a window over the shingle key — the pair join shuffles on
    shingle anyway, so the pruning adds no extra shuffle stage."""
    from pyspark.sql import Window

    raw = _shingles_df(spark, sf_dir).select("doc_id", "lang", "shingle")
    return (
        raw.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .drop("df")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with 3-gram Jaccard ≥ threshold, computed by inverted-index
    join: explode shingles, equi-join on the shingle, count overlap per pair,
    then |A∩B| / (|A|+|B|−|A∩B|).  Blocked by lang, with document-frequency
    pruning: shingles appearing in > MAX_SHINGLE_DF docs are dropped before
    the pair join (a shingle with df=d contributes d² join rows — pruning the
    head of the df distribution bounds the join at any corpus size; Jaccard
    is then defined over the pruned shingle space on both sides)."""
    sh = _pruned_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.floor(
        F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")) * 1000000.0 + 0.5
    ) / 1000000.0
    return (
        overlap.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "common", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs_sql() -> str:
    return f"""
WITH {_SHINGLES_SQL.replace("shingles AS (", "shingles_raw AS (")},
kept AS (
  SELECT shingle FROM shingles_raw GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
),
shingles AS (
  SELECT s.* FROM shingles_raw s JOIN kept USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
overlap AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b, common,
         floor(common::double / (sa.n_sh + sb.n_sh - common) * 1000000.0 + 0.5) / 1000000.0
           AS jaccard
  FROM overlap
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, common, jaccard
FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with shingle CONTAINMENT ≥ threshold — containment
    ``|A∩B| / min(|A|, |B|)`` catches a small document embedded inside a
    much larger one, which Jaccard structurally misses (a 100-word doc
    fully contained in a 10k-word doc has Jaccard ≈ 0.01 but containment
    = 1.0).  This is the quote/excerpt/boilerplate-wrapper detector of a
    web-scale dedup stack, run alongside the symmetric Jaccard pass.

    Same inverted-index scale shape as :func:`ngram_jaccard_pairs`: the
    only shuffle keys are the shingle (pair generation) and the doc pair
    (overlap count); document-frequency pruning bounds the per-shingle
    join fan-out at any corpus size, and containment is then defined over
    the pruned shingle space on both sides.  No pairwise text compare.

    Reference scope: the dedup family generalizes the reference's
    duplicate-transaction/email passes (shared/data_utils.py dedup
    helpers) to corpus scale."""
    sh = _pruned_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont = F.floor(
        F.col("common") / F.least("n_a", "n_b") * 1000000.0 + 0.5
    ) / 1000000.0
    return (
        overlap.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "common",
            F.least("n_a", "n_b").alias("n_small"),
            "containment",
        )
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs_sql() -> str:
    return f"""
WITH {_SHINGLES_SQL.replace("shingles AS (", "shingles_raw AS (")},
kept AS (
  SELECT shingle FROM shingles_raw GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
),
shingles AS (
  SELECT s.* FROM shingles_raw s JOIN kept USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
overlap AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cont AS (
  SELECT doc_a, doc_b, common, least(sa.n_sh, sb.n_sh) AS n_small,
         floor(common::double / least(sa.n_sh, sb.n_sh) * 1000000.0 + 0.5)
           / 1000000.0 AS containment
  FROM overlap
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, common, n_small, containment
FROM cont WHERE containment >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_signatures_from(sh: DataFrame) -> DataFrame:
    aggs = [
        F.min((F.col("h32") * (2 * i + 1) + 7919 * i) % MINHASH_PRIME).alias(f"mh{i}")
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): the signature split into MINHASH_BANDS banding
    keys (2 rows per band) — the shared LSH index for the corpus self-join
    (:func:`minhash_lsh_pairs`) and the batch-vs-stored incremental join
    (:func:`incremental_dedup`)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.concat_ws(
                            "_", F.col(f"mh{2 * j}"), F.col(f"mh{2 * j + 1}")
                        ).alias("sig"),
                    )
                    for j in range(MINHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=16 MinHash values per doc: min over shingles of (aᵢ·h32+bᵢ) mod p
    with aᵢ=2i+1, bᵢ=7919·i — 16 exact min-aggregations in one groupBy."""
    return _minhash_signatures_from(_shingles_df(spark, sf_dir)).orderBy("doc_id")


def minhash_signatures_sql() -> str:
    aggs = ",\n       ".join(
        f"min((h32 * {2 * i + 1} + {7919 * i}) % {MINHASH_PRIME}) AS mh{i}"
        for i in range(MINHASH_K)
    )
    return f"""
WITH {_SHINGLES_SQL}
SELECT doc_id,
       {aggs}
FROM shingles
GROUP BY doc_id
ORDER BY doc_id
"""


@materialized("minhash_lsh_pairs")
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the MinHash signature (8 bands × 2 rows): candidate
    pairs collide on any band; candidates are then verified with the TRUE
    3-gram Jaccard (inverted-index join restricted to candidates).  Output:
    candidate pairs + band-collision count + verified Jaccard.

    Materialized: the verified-pairs table is tiny and consumed twice per
    session (its own query + dedup_clusters' edge input) — the same
    persisted-candidates discipline a production dedup pipeline uses
    between pair generation and clustering."""
    # the shingle subtree feeds both the signature path and the candidate
    # verification path; recomputing it beats materializing here (measured —
    # the shingle explode is cheap, codegen-fused, and persisting the
    # exploded strings costs more than two passes).  At cluster scale the
    # shingle set would be a persisted bronze table instead.
    shingles = _shingles_df(spark, sf_dir)
    sigs = _minhash_signatures_from(shingles)
    bands = _minhash_bands(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_band_collisions"))
    )
    # verify candidates with true jaccard via the shingle index
    sh = shingles.select("doc_id", "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    overlap = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_band_collisions")
        .agg(F.count("*").alias("common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.floor(
        F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")) * 1000000.0 + 0.5
    ) / 1000000.0
    return (
        overlap.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn("jaccard", jac)
        .select("doc_a", "doc_b", "n_band_collisions", "common", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_pairs_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, mh{2 * j} || '_' || mh{2 * j + 1} AS sig FROM sigs"
        for j in range(MINHASH_BANDS)
    )
    mh_aggs = ",\n       ".join(
        f"min((h32 * {2 * i + 1} + {7919 * i}) % {MINHASH_PRIME}) AS mh{i}"
        for i in range(MINHASH_K)
    )
    return f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id, {mh_aggs}
  FROM shingles GROUP BY doc_id
),
bands AS ({band_rows}),
candidates AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_band_collisions
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
overlap AS (
  SELECT c.doc_a, c.doc_b, c.n_band_collisions, count(*) AS common
  FROM candidates c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2, 3
)
SELECT o.doc_a, o.doc_b, o.n_band_collisions, o.common,
       floor(o.common::double / (za.n_sh + zb.n_sh - o.common) * 1000000.0 + 0.5) / 1000000.0
         AS jaccard
FROM overlap o
JOIN sizes za ON za.doc_id = o.doc_a
JOIN sizes zb ON zb.doc_id = o.doc_b
ORDER BY o.doc_a, o.doc_b
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits_for(
    n: int,
    n_chunks: int = SIMHASH_MAX_HAMMING + 1,
    target_occupancy: int = 64,
) -> int:
    """Corpus-derived signature width (the simhash analog of
    similarity._planes_for): chunk width w = ceil(log2(n / occupancy))
    keeps the expected per-chunk bucket occupancy ≈ target at any corpus
    size, so collision candidates stay ~ n · occupancy · chunks — linear —
    instead of the n²·chunks/2^bits blowup a fixed width has (measured 8.5x
    at 4x corpus by tools/scale_probe.py).  Capped at 32 bits by the 32-bit
    word hash; at true corpus scale a 64-bit hash lifts the cap."""
    import math

    w = max(4, math.ceil(math.log2(max(n, 1) / float(target_occupancy))))
    return min(32, n_chunks * w)


def simhash_signatures(
    spark: SparkSession, sf_dir: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash at the given width: per distinct word, h32's low ``bits``
    bits vote ±1 per position; signature bit = vote sum > 0.  The
    registered query pins bits=SIMHASH_BITS so the oracle's near-dup set is
    meaningful at test scale; the scale path derives the width from the
    corpus via :func:`simhash_bits_for` (measured: 1.2x runtime at 4x
    corpus with derived width vs 8.5x at fixed width)."""
    # NOTE (round 12): persisting an UNSORTED variant for the pair
    # generators measured WORSE (2.04 vs 1.70 s 5-rep alternating min at
    # sf0.1) — the sorted cache's partitioning serves the chunk self-join
    # better; keep the sorted build for both surfaces
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split(F.trim(F.col("text")), " "))).alias("word"),
    ).filter(F.col("word") != "")
    hashed = words.withColumn(
        "h32", F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h32"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc_id", "lang").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, 1 << i).otherwise(0)
        sig = bit if sig is None else sig + bit
    return agg.select("doc_id", "lang", sig.cast("long").alias("simhash")).orderBy("doc_id")


def simhash_signatures_sql() -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h32 // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    return f"""
WITH words AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(trim(text, ' '), ' '))) AS word
  FROM documents
),
hashed AS (
  SELECT doc_id, lang, ('0x' || substr(md5(word), 1, 8))::bigint AS h32
  FROM words WHERE word != ''
),
agg AS (
  SELECT doc_id, lang,
       {votes}
  FROM hashed GROUP BY doc_id, lang
)
SELECT doc_id, lang, ({sig})::bigint AS simhash
FROM agg ORDER BY doc_id
"""


def simhash_near_pairs(
    spark: SparkSession,
    sf_dir: str,
    bits: int = SIMHASH_BITS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-dup candidates at hamming ≤ max_hamming via the pigeonhole
    trick: split the signature into max_hamming+1 chunks; any pair within
    the threshold must agree on ≥1 chunk → one equi-join per chunk on
    (chunk, value), dedup, verify bit_count(xor).

    Scale law (measured by tools/scale_probe.py: 8.5x runtime at 4x corpus):
    at FIXED signature width, chunk-collision candidates grow ~ n²·chunks /
    2^bits — quadratic once n approaches 2^bits.  The production scale path
    is to widen the signature with the corpus (64-bit sig, 8 chunks for the
    same hamming≤bits/8-1 guarantee), the exact analog of how
    similarity._planes_for derives the LSH plane count from corpus size;
    the 16-bit width here is pinned so the oracle's near-dup set is
    meaningful at test scale (see :func:`simhash_bits_for` for the
    corpus-derived width, generalized over ``bits``/``max_hamming``)."""
    n_chunks = max_hamming + 1  # pigeonhole: hamming<=k -> k+1 chunks
    w = bits // n_chunks
    mask = (1 << w) - 1
    # the signature table is one small row per doc but costs a full word
    # explode + per-bit vote aggregation to build, and Catalyst plans the
    # self-join below as two independent subtrees (no exchange reuse across
    # AQE stages) — cache so it computes once (measured 4.3s -> 1.4s at
    # sf0.1); tracked, so the registry releases it before the next query
    sigs = tracked_persist(simhash_signatures(spark, sf_dir, bits))
    chunks = sigs.select(
        "doc_id",
        "lang",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), w * c).bitwiseAND(mask).alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "lang", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
    )
    # verify hamming BEFORE the dedup: bit_count is map-side codegen, so the
    # distinct's shuffle carries only true near-pairs instead of every chunk
    # collision (collisions grow with bucket occupancy² — at 100 TB the
    # pre-filter is the difference between shuffling pairs and shuffling
    # near-dups)
    hamming = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def simhash_near_pairs_sql() -> str:
    sig_cte = simhash_signatures_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH sigs AS ({sig_cte}),
chunks AS (
  SELECT doc_id, lang, simhash, c AS chunk, (simhash // power(2, 4*c)::bigint) % 16 AS val
  FROM sigs, unnest([0, 1, 2, 3]) AS t(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.val = b.val AND a.lang = b.lang
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Connected components: pairs -> dedup clusters
# ---------------------------------------------------------------------------

CLUSTER_JACCARD_MIN = 0.5  # edge threshold over the verified MinHash pairs


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group near-duplicate PAIRS into CLUSTERS (connected components) —
    the step every dedup pipeline needs between pair generation and
    keep-one-per-group, and the one Spark has no built-in operator for.

    Implementation: alternating large-star/small-star contraction
    (:func:`alternating_star_labels`) — rounds grow with log(diameter),
    so both the shallow near-dup clusters here (1-3 rounds) and a
    trillion-edge crawl graph with adversarial chain topology (~log₂ n
    rounds) converge inside the same bound.  Each pass is one
    groupBy-min plus one equi-join; ``localCheckpoint`` truncates the
    plan lineage each round so the iteration count never shows up in
    plan depth.

    The driver-side loop coordinates jobs (like GraphFrames/Pregel); all
    DATA stays distributed — the only thing collected per round is the
    1-number convergence count.

    Output: one row per clustered doc (singletons excluded) with its
    cluster id (= min doc_id in the component) and the cluster size.
    """
    return _cluster_labels(spark, sf_dir).orderBy("doc_id")


@materialized("cluster_labels")
def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every clustered doc — the
    label-propagation output behind :func:`dedup_clusters`, materialized
    like its input :func:`minhash_lsh_pairs`: the LPA rounds run EAGERLY
    (driver-coordinated localCheckpoint loop), and seven registry paths
    consume the labels (dedup_clusters, cluster_collapse_summary,
    cluster_size_distribution, corpus_funnel, quality_dup_lift,
    soft_dedup_weights, dedup_weight_ess) — without the stored table each
    re-pays the full contraction (measured ~1.5-2 s per consumer at
    sf0.1).  At 100 TB cluster assignments are exactly the persisted
    silver table a dedup stack writes between clustering and collapse."""
    pairs = minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_JACCARD_MIN
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = propagate_min_labels(edges)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def propagate_min_labels(edges: DataFrame, max_rounds: int = 24) -> DataFrame:
    """Connected components over a symmetric ``(src, dst)`` edge list →
    ``(node, label)`` with label = the component's minimum node id.

    Implemented as alternating large-star/small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    rounds grow with log(diameter), not diameter, so an adversarial chain
    topology (the 100-TB worst case a web-crawl dedup graph can contain)
    converges in ~log₂(n) alternations where one-hop min-label propagation
    needs n.  See :func:`alternating_star_labels` for the round mechanics;
    this wrapper keeps the historical (edges) -> labels API used by every
    cluster consumer."""
    labels, _rounds = alternating_star_labels(edges, max_rounds)
    return labels


def alternating_star_labels(
    edges: DataFrame, max_rounds: int = 24
) -> tuple[DataFrame, int]:
    """Two-phase star contraction returning ``(labels, rounds_used)``.

    Each round is one large-star then one small-star pass, every pass a
    single groupBy-min plus an equi-join on the current edge set:

    * LARGE-STAR: per node u over the symmetric closure, every neighbor
      v > u is re-pointed at m(u) = min(Γ(u) ∪ {u}) — strictly-larger
      neighbors hop to the local minimum, halving star depth;
    * SMALL-STAR: per node u over the min-oriented list (u ≥ v), every
      neighbor ≤ u plus u itself is re-pointed at min(Γ(u)) — collapsing
      the short spokes large-star leaves behind.

    The fixed point is a forest of stars centered at each component's
    minimum id; convergence is detected by an exact symmetric-difference
    check (two anti-join counts — the only values that ever reach the
    driver).  ``localCheckpoint`` truncates lineage each round so the
    iteration count never shows up in plan depth.  Non-convergence within
    ``max_rounds`` raises rather than silently splitting a component —
    at log-bounded rounds that means a broken invariant, not a deep graph.
    """
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    converged = e.isEmpty()
    while not converged and rounds < max_rounds:
        rounds += 1
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large_min = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("mn"))
        large = (
            sym.join(large_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        small_min = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            oriented.join(small_min, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(small_min.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        changed = (
            small.join(e, ["u", "v"], "left_anti").count()
            + e.join(small, ["u", "v"], "left_anti").count()
        )
        e = small
        converged = changed == 0
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds; "
            "log-bounded convergence failed — check the edge list for "
            "asymmetry or nulls"
        )
    labels = (
        nodes.join(
            e.select(F.col("u").alias("node"), F.col("v").alias("lbl")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min(F.coalesce("lbl", "node")).alias("label"))
    )
    return labels, rounds


def propagate_min_labels_onehop(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """The one-hop min-label propagation loop (rounds = graph diameter) —
    kept as the differential reference for :func:`alternating_star_labels`
    (tests/test_sampling_clusters.py diffs the two on random graphs) and
    as the simpler template when the graph is known-shallow.  The edge
    list is cached for the loop and released before returning; only the
    1-row convergence count ever reaches the driver."""
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_rounds):  # convergence check exits earlier
        nbr = edges.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # silently returning partial propagation would split one true
        # component into several clusters — fail loudly instead
        raise RuntimeError(
            f"min-label propagation did not converge in {max_rounds} rounds "
            f"({changed} labels still changing); graph diameter exceeds the "
            "round bound"
        )
    return labels


def _clusters_cte_sql() -> str:
    """The recursive transitive-closure CTE chain shared by the cluster
    oracles (fine at oracle scale; the Spark side is the scale path).
    Exposes ``labels(node, cluster_id)`` and ``sizes(cluster_id,
    cluster_size)``."""
    return f"""pairs AS ({minhash_lsh_pairs_sql()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jaccard >= {CLUSTER_JACCARD_MIN}
  UNION
  SELECT doc_b, doc_a FROM pairs WHERE jaccard >= {CLUSTER_JACCARD_MIN}
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src
),
labels AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id
)"""


def dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_clusters_cte_sql()}
SELECT l.node AS doc_id, l.cluster_id, s.cluster_size
FROM labels l JOIN sizes s USING (cluster_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# source-priority dedup: keep the best-provenance doc per near-dup cluster
# ---------------------------------------------------------------------------

# Source priority tiers, lower keeps.  A production pipeline declares this
# ranking over its corpora (curated encyclopedic > books > crawl — the
# resolution step The Pile / RefinedWeb-style mixes run after clustering);
# the synthetic sources spread across three tiers deterministically so
# every tier is exercised.  Unknown sources fall to the worst tier, so new
# corpora never silently outrank curated ones.
SOURCE_TIER: dict[str, int] = {f"src{i}": i % 3 for i in range(20)}
SOURCE_TIER_DEFAULT = 9


def _tier_col(col: F.Column) -> F.Column:
    expr = None
    for k, v in SOURCE_TIER.items():
        cond = col == F.lit(k)
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(F.lit(SOURCE_TIER_DEFAULT))


def _tier_sql(col_sql: str) -> str:
    branches = " ".join(f"WHEN '{k}' THEN {v}" for k, v in SOURCE_TIER.items())
    return f"CASE {col_sql} {branches} ELSE {SOURCE_TIER_DEFAULT} END"


def source_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate RESOLUTION: within each near-duplicate
    cluster, keep exactly the doc from the highest-priority source
    (ties broken by lowest doc_id) and mark the rest as dropped-in-favor-
    of — the decision step a multi-corpus training mix runs between
    clustering and materialization, where "which copy survives" is an
    editorial policy (curated > books > crawl), not an accident of
    hashing.  Builds on the same verified-MinHash edge set as
    :func:`dedup_clusters`.

    Output: one row per clustered doc — (doc_id, cluster_id, source,
    tier, keep_doc_id, kept); singletons are untouched by definition and
    excluded, exactly as in ``dedup_clusters``.

    Scale shape: clustering is the log-round star contraction; the
    resolution itself is one broadcast-sized tier map, one equi-join of
    labels to the docs table, and one per-cluster min — no step touches
    more than the clustered subset."""
    # same cluster ids as dedup_clusters — scan the materialized labels
    # table instead of re-running the star contraction (round 12)
    labels = _cluster_labels(spark, sf_dir).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("label")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "source"
    )
    from pyspark.sql import Window

    ranked = (
        labels.join(docs, "node")
        .withColumn("tier", _tier_col(F.col("source")))
        .withColumn(
            "keep_doc_id",
            F.min(F.struct("tier", "node")).over(Window.partitionBy("label"))["node"],
        )
    )
    return ranked.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "source",
        "tier",
        "keep_doc_id",
        (F.col("node") == F.col("keep_doc_id")).alias("kept"),
    ).orderBy("doc_id")


def source_priority_dedup_sql() -> str:
    return f"""
WITH RECURSIVE {_clusters_cte_sql()},
ranked AS (
  SELECT l.node, l.cluster_id, d.source,
         {_tier_sql('d.source')} AS tier
  FROM labels l JOIN documents d ON d.doc_id = l.node
),
keepers AS (
  SELECT cluster_id, node AS keep_doc_id
  FROM (
    SELECT cluster_id, node,
           row_number() OVER (PARTITION BY cluster_id ORDER BY tier, node) AS rk
    FROM ranked
  ) WHERE rk = 1
)
SELECT r.node AS doc_id, r.cluster_id, r.source, r.tier,
       k.keep_doc_id, r.node = k.keep_doc_id AS kept
FROM ranked r JOIN keepers k USING (cluster_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# MinHash estimator error evaluation — measured quality of the sketch
# ---------------------------------------------------------------------------


def minhash_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured error of the MinHash Jaccard ESTIMATE against the exact
    shingle Jaccard, per band-collision stratum — the companion eval to
    :func:`ann_recall_eval` for the text-dedup sketch.  MinHash's estimate
    for a pair is (matching signature components)/k; LSH retrieval quality
    is usually quoted from theory (1-(1-j^rows)^bands) — this query
    measures it on the actual corpus instead.

    Input pairs are the verified LSH candidates (:func:`minhash_lsh_pairs`
    — materialized, so this reads a tiny parquet), joined back to the
    16-component signature table on each side; the error aggregates are
    exact integer micro-units (estimate step = 1e6/k = 62500), grouped by
    n_band_collisions so the output exposes the estimator's bias per
    collision stratum (pairs colliding in more bands skew to higher true
    Jaccard).  Output is O(MINHASH_BANDS) rows.

    Scale shape: two equi-joins of the candidate-pair table against the
    signature table (both linear in candidates), one partial-aggregated
    groupBy on an 8-value key."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "n_band_collisions", "jaccard"
    )
    sigs = _minhash_signatures_from(_shingles_df(spark, sf_dir))
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    step = 1000000 // MINHASH_K  # exact: 62500 micro per matching component
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "n_band_collisions",
            (n_eq * step).alias("est_micro"),
            F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("long").alias("true_micro"),
        )
        .withColumn("err_micro", F.abs(F.col("est_micro") - F.col("true_micro")))
    )
    return (
        scored.groupBy("n_band_collisions")
        .agg(
            F.count("*").alias("n_pairs"),
            F.floor(F.avg("err_micro")).cast("long").alias("mean_abs_err_micro"),
            F.max("err_micro").alias("max_abs_err_micro"),
            F.floor(F.avg("true_micro")).cast("long").alias("mean_true_jaccard_micro"),
        )
        .orderBy("n_band_collisions")
    )


def minhash_error_eval_sql() -> str:
    eq_terms = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    step = 1000000 // MINHASH_K
    return f"""
WITH lsh AS ({minhash_lsh_pairs_sql().replace("ORDER BY o.doc_a, o.doc_b", "")}),
sig_tbl AS ({minhash_signatures_sql().replace("ORDER BY doc_id", "")}),
scored AS (
  SELECT p.n_band_collisions,
         ({eq_terms}) * {step} AS est_micro,
         CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS true_micro
  FROM lsh p
  JOIN sig_tbl sa ON sa.doc_id = p.doc_a
  JOIN sig_tbl sb ON sb.doc_id = p.doc_b
)
SELECT n_band_collisions,
       count(*) AS n_pairs,
       CAST(floor(avg(abs(est_micro - true_micro))) AS BIGINT) AS mean_abs_err_micro,
       max(abs(est_micro - true_micro)) AS max_abs_err_micro,
       CAST(floor(avg(true_micro)) AS BIGINT) AS mean_true_jaccard_micro
FROM scored
GROUP BY n_band_collisions
ORDER BY n_band_collisions
"""


# ---------------------------------------------------------------------------
# incremental dedup — new batch vs stored corpus
# ---------------------------------------------------------------------------

INCR_NEW_MOD = 5  # doc_id % 5 == 0 plays the "newly fetched batch" role


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW batch against the STORED corpus without re-pairing the
    corpus with itself — the production mode of MinHash dedup at scale
    (daily batch: band-join the new docs' signatures against the stored
    signature index; the corpus self-join never reruns).  Extends the
    reference's skip-if-exists incremental guards (SURVEY §2.9 ST4,
    experiment_tracking.py:86-94) from key equality to near-duplicate
    detection.

    Here the split is deterministic (doc_id % INCR_NEW_MOD == 0 is "new",
    the rest "stored"); each new doc reports its best stored match
    (highest verified Jaccard, tie-break lowest stored id) so the caller
    can drop or link it.  Output: one row per new doc with at least one
    band collision whose verified Jaccard clears JACCARD_THRESHOLD.

    Scale shape: the cost is that of the materialized
    :func:`minhash_lsh_pairs` build — the full-corpus band self-join plus
    verification — amortized across every consumer of that table; this
    query adds one scan of it and the keep-best window over the
    candidate set.  Under ``SPARK_GRAFT_NO_MATERIALIZE`` (or on the first
    build in a process) it pays that stored×stored band join itself,
    the cost the batch-vs-stored mode was defined to avoid (SCALE.md).

    Why a slice of the pairs table is exact: band collision and verified
    Jaccard are both symmetric, and :func:`minhash_lsh_pairs` carries every
    collided pair (doc_a < doc_b) unfiltered with the same
    n_band_collisions count and the same unpruned-shingle Jaccard a
    two-sided new×stored band join would compute.  The new×stored
    candidate set is the mixed-orientation slice of it (a new-new or
    stored-stored pair is excluded by the mod split exactly as the
    two-sided band join excluded it)."""
    from pyspark.sql import Window

    pairs = minhash_lsh_pairs(spark, sf_dir)
    new_a = F.col("doc_a") % INCR_NEW_MOD == 0
    new_b = F.col("doc_b") % INCR_NEW_MOD == 0
    a_new = pairs.filter(new_a & ~new_b).select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("stored_doc_id"),
        "n_band_collisions",
        "jaccard",
    )
    b_new = pairs.filter(new_b & ~new_a).select(
        F.col("doc_b").alias("new_doc_id"),
        F.col("doc_a").alias("stored_doc_id"),
        "n_band_collisions",
        "jaccard",
    )
    scored = a_new.unionByName(b_new).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    w = Window.partitionBy("new_doc_id").orderBy(
        F.desc("jaccard"), "stored_doc_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_doc_id", "stored_doc_id", "n_band_collisions", "jaccard")
        .orderBy("new_doc_id")
    )


def incremental_dedup_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, mh{2 * j} || '_' || mh{2 * j + 1} AS sig FROM sigs"
        for j in range(MINHASH_BANDS)
    )
    mh_aggs = ",\n       ".join(
        f"min((h32 * {2 * i + 1} + {7919 * i}) % {MINHASH_PRIME}) AS mh{i}"
        for i in range(MINHASH_K)
    )
    return f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id, {mh_aggs}
  FROM shingles GROUP BY doc_id
),
bands AS ({band_rows}),
candidates AS (
  SELECT n.doc_id AS new_doc_id, s.doc_id AS stored_doc_id,
         count(*) AS n_band_collisions
  FROM bands n JOIN bands s
    ON n.band = s.band AND n.sig = s.sig
  WHERE n.doc_id % {INCR_NEW_MOD} = 0 AND s.doc_id % {INCR_NEW_MOD} != 0
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
overlap AS (
  SELECT c.new_doc_id, c.stored_doc_id, c.n_band_collisions, count(*) AS common
  FROM candidates c
  JOIN shingles sa ON sa.doc_id = c.new_doc_id
  JOIN shingles sb ON sb.doc_id = c.stored_doc_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT o.new_doc_id, o.stored_doc_id, o.n_band_collisions,
         floor(o.common::double / (za.n_sh + zb.n_sh - o.common) * 1000000.0 + 0.5)
           / 1000000.0 AS jaccard
  FROM overlap o
  JOIN sizes za ON za.doc_id = o.new_doc_id
  JOIN sizes zb ON zb.doc_id = o.stored_doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY new_doc_id
                               ORDER BY jaccard DESC, stored_doc_id) AS rn
  FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
)
SELECT new_doc_id, stored_doc_id, n_band_collisions, jaccard
FROM ranked WHERE rn = 1
ORDER BY new_doc_id
"""


# ---------------------------------------------------------------------------
# benchmark decontamination — eval-set n-gram leakage scan
# ---------------------------------------------------------------------------

EVAL_SET_MOD = 97  # doc_id % 97 == 0 plays the "benchmark/eval set" role
CONTAM_MIN_SHINGLES = 3  # >= this many distinct eval shingles -> contaminated


def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every training doc, count distinct
    3-gram shingles it shares with a held-out eval set and flag docs over
    the threshold — the decontamination step a training corpus runs BEFORE
    training so eval questions don't leak into the training set.  Distinct
    from dedup: the comparison is asymmetric (corpus vs a small benchmark
    side), the unit is the shingle (a doc sharing a few exact n-grams with
    an eval item is contaminated even at near-zero Jaccard), and the
    output is a per-training-doc audit row.

    Here the eval set is deterministic (doc_id % EVAL_SET_MOD == 0).
    Output: training docs sharing >= 1 eval shingle, with the matched
    shingle count, the number of distinct eval docs hit, and the flag.

    Scale shape: the eval side is small by construction — its distinct
    shingle set broadcasts — so the scan is one broadcast-hash semi-join
    over the exploded corpus shingles plus one partial-aggregated groupBy:
    linear in corpus, no self-join anywhere."""
    sh = _shingles_df(spark, sf_dir).select("doc_id", "shingle")
    is_eval = F.col("doc_id") % EVAL_SET_MOD == 0
    eval_shingles = (
        sh.filter(is_eval)
        .select(F.col("doc_id").alias("eval_doc_id"), "shingle")
        .distinct()
    )
    train = sh.filter(~is_eval)
    hits = train.join(F.broadcast(eval_shingles), "shingle")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_matched_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
        .withColumn(
            "contaminated", F.col("n_matched_shingles") >= CONTAM_MIN_SHINGLES
        )
        .orderBy("doc_id")
    )


def decontamination_sql() -> str:
    return f"""
WITH {_SHINGLES_SQL},
eval_shingles AS (
  SELECT DISTINCT doc_id AS eval_doc_id, shingle
  FROM shingles WHERE doc_id % {EVAL_SET_MOD} = 0
),
hits AS (
  SELECT t.doc_id, e.shingle, e.eval_doc_id
  FROM shingles t JOIN eval_shingles e USING (shingle)
  WHERE t.doc_id % {EVAL_SET_MOD} != 0
)
SELECT doc_id,
       count(DISTINCT shingle) AS n_matched_shingles,
       count(DISTINCT eval_doc_id) AS n_eval_docs_hit,
       count(DISTINCT shingle) >= {CONTAM_MIN_SHINGLES} AS contaminated
FROM hits
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# cluster-collapse summary — what dedup does to the corpus mix
# ---------------------------------------------------------------------------


def cluster_collapse_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup→sampling composition: per duplicate-cluster-size stratum,
    how many documents the corpus holds, how many survive keep-one-per-
    cluster collapse (the canonical member), and how many drop.  This is
    the number a corpus recipe actually needs from dedup — "collapsing
    near-dup clusters removes X% of the corpus, concentrated in size-k
    clusters" — and it composes two existing operators (dedup_clusters +
    a singleton complement) instead of introducing new machinery.

    Singletons (docs in no near-dup pair) appear as the cluster_size=1
    stratum via an anti-join against the clustered set — all kept.

    Scale shape: the expensive parts (pair generation, label propagation)
    are the already-materialized/linear dedup path; this adds one
    broadcast anti-join (clustered ids are small relative to the corpus)
    and two tiny aggregations."""
    clustered = dedup_clusters(spark, sf_dir)
    strata = (
        clustered.groupBy("cluster_size")
        .agg(
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.count("*").alias("n_docs"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.col("n_clusters").alias("n_kept"),
            (F.col("n_docs") - F.col("n_clusters")).alias("n_dropped"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    singles = (
        docs.join(
            clustered.select(F.col("doc_id")), "doc_id", "left_anti"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
            F.col("n").alias("n_kept"),
            F.lit(0).cast("long").alias("n_dropped"),
        )
    )
    return singles.unionByName(strata).orderBy("cluster_size")


def cluster_collapse_summary_sql() -> str:
    return f"""
WITH RECURSIVE {_clusters_cte_sql()},
clustered AS (
  SELECT l.node AS doc_id, l.cluster_id, s.cluster_size
  FROM labels l JOIN sizes s USING (cluster_id)
),
strata AS (
  SELECT cluster_size,
         count(DISTINCT cluster_id) AS n_clusters,
         count(*) AS n_docs,
         count(DISTINCT cluster_id) AS n_kept,
         count(*) - count(DISTINCT cluster_id) AS n_dropped
  FROM clustered GROUP BY cluster_size
),
singles AS (
  SELECT 1::BIGINT AS cluster_size,
         count(*) AS n_clusters, count(*) AS n_docs,
         count(*) AS n_kept, 0::BIGINT AS n_dropped
  FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM clustered c WHERE c.doc_id = d.doc_id)
)
SELECT * FROM singles
UNION ALL
SELECT * FROM strata
ORDER BY cluster_size
"""


# ---------------------------------------------------------------------------
# adaptive-width SimHash — the production scale path, oracle-checked
# ---------------------------------------------------------------------------

_CORPUS_DOCS: dict[str, int] = {}


def _corpus_docs(spark: SparkSession, sf_dir: str) -> int:
    """Document-corpus row count for signature-width sizing, computed ONCE
    per sf_dir from the parquet footer (metadata-only; same pattern as
    similarity._corpus_rows)."""
    import os as _os

    key = _os.path.abspath(sf_dir)
    if key not in _CORPUS_DOCS:
        try:
            import pyarrow.parquet as _pq

            n = _pq.ParquetFile(
                _os.path.join(key, "documents.parquet")
            ).metadata.num_rows
        except Exception:
            n = load_table(spark, sf_dir, "documents").count()
        _CORPUS_DOCS[key] = n
    return _CORPUS_DOCS[key]


def simhash_adaptive_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the CORPUS-DERIVED signature width — the
    production default (:func:`simhash_bits_for`; the pinned-width
    ``simhash_near_pairs`` is the test-scale variant).  The oracle derives
    the same width from ``count(*)`` inside the SQL, so the width
    derivation itself — not just the pairing — is cross-engine verified:
    at any sf the driver runs this, both engines size the signature from
    the corpus and must agree on the resulting pair set.

    Scale shape: identical to the pinned variant (pigeonhole chunks →
    equi-joins → hamming verify before distinct), but with per-chunk
    bucket occupancy held ≈ constant by the derived width, candidate
    volume stays ~ n·occupancy·chunks — measured 1.2× runtime at 4×
    corpus vs 6.4× pinned (tools/scale_probe.py).

    Output is the per-hamming-distance pair HISTOGRAM, not raw pairs: the
    word-salad corpus concentrates signatures (719k hamming≤3 pairs at
    sf0.1), and hauling that through the compare harness proves nothing
    the 4-row histogram doesn't."""
    bits = simhash_bits_for(_corpus_docs(spark, sf_dir))
    return (
        simhash_near_pairs(spark, sf_dir, bits=bits)
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def simhash_adaptive_near_pairs_sql() -> str:
    """Width-parameterized oracle: the per-bit vote matrix is ROWS (one per
    (doc, bit) via lateral unnest over the params width) instead of the
    pinned oracle's generated per-bit columns, because the width is a
    runtime scalar here."""
    n_chunks = SIMHASH_MAX_HAMMING + 1
    return f"""
WITH params AS (
  SELECT least(32, {n_chunks} * greatest(4,
           CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS bits
  FROM documents
),
words AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(trim(text, ' '), ' '))) AS word
  FROM documents
),
hashed AS (
  SELECT doc_id, lang, ('0x' || substr(md5(word), 1, 8))::bigint AS h32
  FROM words WHERE word != ''
),
votes AS (
  SELECT doc_id, lang, b.i AS bit,
         sum(CASE WHEN (h32 // (1::BIGINT << b.i)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed, params, unnest(range(0, bits)) b(i)
  GROUP BY doc_id, lang, b.i
),
sigs AS (
  SELECT doc_id, lang,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id, lang
),
chunked AS (
  SELECT s.doc_id, s.lang, s.simhash, c.c AS chunk,
         (s.simhash // (1::BIGINT << ((bits // {n_chunks}) * c.c)))
           % (1::BIGINT << (bits // {n_chunks})) AS val
  FROM sigs s, params, unnest(range(0, {n_chunks})) c(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunked a JOIN chunked b
    ON a.chunk = b.chunk AND a.val = b.val AND a.lang = b.lang
   AND a.doc_id < b.doc_id
)
SELECT bit_count(xor(sig_a, sig_b)) AS hamming, count(*) AS n_pairs
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
GROUP BY 1
ORDER BY hamming
"""


# ---------------------------------------------------------------------------
# chunk-level boilerplate detection — sub-document dedup granularity
# ---------------------------------------------------------------------------

CHUNK_WORDS = 4  # non-overlapping chunk width (words)
BOILERPLATE_MIN_DOCS = 2  # chunk in >= this many distinct docs => boilerplate


def chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate audit (C4/RefinedWeb-style line dedup,
    re-expressed at fixed word-chunk granularity because the synthetic
    corpus is single-line): split each document into non-overlapping
    CHUNK_WORDS-word chunks, find chunks that recur across >=
    BOILERPLATE_MIN_DOCS distinct documents, and report per-document how
    much of it is boilerplate.  This is the dedup family's sub-document
    member: the reference's closest analog is its duplicate-email audit
    (build_customer_master.py:139-153) — a recurrence count over a derived
    key — lifted to chunk keys.

    Scale shape (inverted index, same as the shingle join): explode to
    (doc, chunk-hash), one groupBy on the chunk hash for document
    frequency, one equi-join back on the chunk hash, one per-doc groupBy.
    No self-join, no text comparison; every stage is keyed, so it survives
    a 1000-executor corpus.  Trailing partial chunks (< CHUNK_WORDS words)
    are excluded so chunk identity is position-stable."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source", F.split(F.trim(F.col("text")), " ").alias("w")
    )
    # guard: size(w) < CHUNK_WORDS would make sequence(1, 0) DESCEND in
    # Spark ([1, 0]); emit an empty chunk list instead
    chunks_expr = F.expr(
        f"CASE WHEN size(w) >= {CHUNK_WORDS} THEN "
        f"transform(sequence(1, size(w) div {CHUNK_WORDS}),"
        f" i -> concat_ws(' ', slice(w, (i-1)*{CHUNK_WORDS}+1, {CHUNK_WORDS})))"
        " ELSE array() END"
    )
    ex = words.select(
        "doc_id", "source", F.explode(chunks_expr).alias("chunk")
    ).select("doc_id", "source", F.md5("chunk").alias("ch"))
    doc_freq = (
        ex.select("doc_id", "ch")
        .distinct()
        .groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("docs_with"))
    )
    return (
        ex.join(doc_freq, "ch")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (F.col("docs_with") >= BOILERPLATE_MIN_DOCS).cast("bigint")
            ).alias("n_boilerplate_chunks"),
        )
        .withColumn(
            "boilerplate_ratio",
            _ratio(
                F.col("n_boilerplate_chunks").cast("double"),
                F.col("n_chunks").cast("double"),
            ),
        )
        .orderBy("doc_id")
    )


def _ratio(num: F.Column, den: F.Column) -> F.Column:
    from ..functions.money import ratio

    return ratio(num, den, 4)


def chunk_boilerplate_sql() -> str:
    from ..functions.money import ratio_sql

    k = CHUNK_WORDS
    return f"""
WITH base AS (
  SELECT doc_id, source, string_split(trim(text, ' '), ' ') AS w FROM documents
),
chunks AS (
  SELECT doc_id, source,
         md5(unnest([array_to_string(list_slice(w, (i-1)*{k}+1, i*{k}), ' ')
                     for i in range(1, len(w)//{k} + 1)])) AS ch
  FROM base
),
doc_freq AS (
  SELECT ch, count(DISTINCT doc_id) AS docs_with FROM chunks GROUP BY ch
)
SELECT c.doc_id, c.source,
       count(*) AS n_chunks,
       CAST(sum((f.docs_with >= {BOILERPLATE_MIN_DOCS})::int) AS BIGINT)
         AS n_boilerplate_chunks,
       {ratio_sql(
           "sum((f.docs_with >= " + str(BOILERPLATE_MIN_DOCS) + ")::int)::double",
           "count(*)::double",
           4,
       )} AS boilerplate_ratio
FROM chunks c JOIN doc_freq f USING (ch)
GROUP BY c.doc_id, c.source
ORDER BY c.doc_id
"""


# ---------------------------------------------------------------------------
# cross-source leakage — where the near-dups come from
# ---------------------------------------------------------------------------


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs rolled up by (source, source): how much of the
    corpus's duplication is WITHIN a source vs LEAKAGE between sources —
    the diagnostic that tells a corpus recipe whether two ingested dumps
    overlap (e.g. the same crawl ingested twice under different names).

    Composes the verified MinHash-LSH pair table (materialized, shared
    with dedup_clusters); adds two equi-joins against the tiny
    (doc_id, source) projection and one ~|sources|² rollup.  Pair order is
    normalized with least/greatest so (A,B) and (B,A) land in one row.

    avg_jaccard is computed from the already-1e-6-fixed-point jaccard
    rescaled to exact BIGINT micro-units before summing, so the mean is
    partition-order-independent and engine-exact."""
    pairs = minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_JACCARD_MIN
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    micro = F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("bigint")
    from ..functions.money import ratio

    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_1"),
            F.greatest("src_a", "src_b").alias("source_2"),
            (F.col("src_a") != F.col("src_b")).alias("cross_source"),
            micro.alias("j_micro"),
        )
        .groupBy("source_1", "source_2", "cross_source")
        .agg(
            F.count("*").alias("n_pairs"),
            ratio(
                F.sum("j_micro").cast("double"),
                (F.count("*") * 1000000).cast("double"),
                6,
            ).alias("avg_jaccard"),
            (F.max("j_micro") / 1000000.0).alias("max_jaccard"),
        )
        .orderBy("source_1", "source_2")
    )


def cross_source_leakage_sql() -> str:
    from ..functions.money import ratio_sql

    return f"""
WITH lsh_pairs AS (
{minhash_lsh_pairs_sql()}
),
labeled AS (
  SELECT least(da.source, db.source) AS source_1,
         greatest(da.source, db.source) AS source_2,
         da.source != db.source AS cross_source,
         CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS j_micro
  FROM lsh_pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
  WHERE p.jaccard >= {CLUSTER_JACCARD_MIN}
)
SELECT source_1, source_2, cross_source,
       count(*) AS n_pairs,
       {ratio_sql('sum(j_micro)::double', '(count(*) * 1000000)::double', 6)} AS avg_jaccard,
       (max(j_micro) / 1000000.0) AS max_jaccard
FROM labeled
GROUP BY source_1, source_2, cross_source
ORDER BY source_1, source_2
"""


# ---------------------------------------------------------------------------
# end-to-end dedup recall — planted near-duplicates through the real pipeline
# ---------------------------------------------------------------------------

PLANT_MOD = 5  # every PLANT_MOD-th doc gets a planted near-dup copy
PLANT_OFFSET = 1_000_000  # planted copy's doc_id = original + offset
PLANT_DROP_EVERY = 7  # the copy drops every 7th word (~14% edit)


def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured end-to-end recall of the MinHash-LSH candidate generator
    against PLANTED near-duplicates: derive a perturbed copy (every
    PLANT_DROP_EVERY-th word dropped) of every PLANT_MOD-th document, run
    the REAL signature + banding pipeline over corpus ∪ copies, and report
    what fraction of the planted (original, copy) pairs the band join
    surfaces.  ann_recall_eval measures the vector path against brute
    force; this is its text-side sibling — ground truth by construction
    instead of by exhaustive comparison, which is the only form of ground
    truth available at corpus scale.

    One row: n_planted, n_found, recall_micro, plus the banding-theory
    context (bands, rows_per_band).  Deterministic end to end — the
    perturbation is positional, no RNG — so the DuckDB oracle replays the
    entire pipeline including the measured recall.

    Scale shape: identical to minhash_lsh_pairs (the planted side adds
    |corpus|/PLANT_MOD rows); the recall join is an equi-join of the tiny
    planted pair list against band-collision pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    perturbed_text = F.array_join(
        F.expr(
            f"filter(split(trim(text), ' '), (x, i) -> (i + 1) % {PLANT_DROP_EVERY} != 0)"
        ),
        " ",
    )
    planted_src = docs.filter(F.col("doc_id") % PLANT_MOD == 0)
    copies = planted_src.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        "lang",
        perturbed_text.alias("text"),
    )
    aug = docs.unionByName(copies)
    bands = _minhash_bands(_minhash_signatures_from(_shingles_from_docs(aug)))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    planted = planted_src.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_b"),
    )
    hits = planted.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_planted = planted.agg(F.count("*").alias("n")).select("n")
    n_found = hits.agg(F.count("*").alias("f")).select("f")
    return (
        n_planted.crossJoin(n_found)  # two 1-row aggregates
        .select(
            F.col("n").cast("long").alias("n_planted"),
            F.col("f").cast("long").alias("n_found"),
            # n > 0 guard: an unplanted corpus would make recall 0/0
            # (Spark NULL vs DuckDB NaN) — same class as blocker_recall
            F.when(
                F.col("n") > 0,
                F.floor(F.col("f") * 1000000.0 / F.col("n")).cast("long"),
            ).alias("recall_micro"),
            F.lit(MINHASH_BANDS).cast("long").alias("bands"),
            F.lit(MINHASH_K // MINHASH_BANDS).cast("long").alias("rows_per_band"),
        )
    )


def dedup_recall_eval_sql() -> str:
    mh_aggs = ",\n       ".join(
        f"min((h32 * {2 * i + 1} + {7919 * i}) % {MINHASH_PRIME}) AS mh{i}"
        for i in range(MINHASH_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, mh{2 * j} || '_' || mh{2 * j + 1} AS sig FROM sigs"
        for j in range(MINHASH_BANDS)
    )
    return f"""
WITH aug AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET}, lang,
         array_to_string(
           [w[i] FOR i IN range(1, len(w)+1) IF i % {PLANT_DROP_EVERY} != 0], ' ')
  FROM (SELECT doc_id, lang, string_split(trim(text, ' '), ' ') AS w
        FROM documents WHERE doc_id % {PLANT_MOD} = 0)
),
shingle_rows AS (
  SELECT doc_id, lang, unnest(list_distinct(
           [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
            FOR i IN range(1, greatest(len(words) - 1, 2))]
         )) AS shingle
  FROM (SELECT doc_id, lang, string_split(trim(text, ' '), ' ') AS words FROM aug)
),
shingles AS (
  SELECT doc_id, lang, shingle,
         ('0x' || substr(md5(shingle), 1, 8))::bigint AS h32
  FROM shingle_rows
  WHERE shingle IS NOT NULL AND shingle != ''
),
sigs AS (
  SELECT doc_id, {mh_aggs}
  FROM shingles GROUP BY doc_id
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
planted AS (
  SELECT doc_id AS doc_a, doc_id + {PLANT_OFFSET} AS doc_b
  FROM documents WHERE doc_id % {PLANT_MOD} = 0
),
counts AS (
  SELECT (SELECT count(*) FROM planted) AS n,
         (SELECT count(*) FROM planted p
          JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b) AS f
)
SELECT n::BIGINT AS n_planted, f::BIGINT AS n_found,
       CASE WHEN n > 0
            THEN CAST(floor(f * 1000000.0 / n) AS BIGINT)
       END AS recall_micro,
       {MINHASH_BANDS}::BIGINT AS bands,
       {MINHASH_K // MINHASH_BANDS}::BIGINT AS rows_per_band
FROM counts
"""


# ---------------------------------------------------------------------------
# sorted-neighborhood candidate generation (blocked SNM)
# ---------------------------------------------------------------------------

SNM_WINDOW = 3  # neighbors compared after each doc in sort order
SNM_MIN_JACCARD = 0.5  # 3-gram shingle Jaccard to confirm a candidate


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection: sort the corpus by a text
    prefix key, compare each document only against its next SNM_WINDOW
    neighbors in sort order, and keep pairs whose 3-gram shingle Jaccard
    clears SNM_MIN_JACCARD.  SNM is the classic entity-resolution
    complement to hash blocking (MinHash/SimHash catch permuted overlap
    probabilistically; SNM catches shared-prefix duplicates exactly, at a
    guaranteed O(n·w) candidate budget and zero hashing).  Reference
    analog: the last-name-blocked fuzzy candidate join
    (build_family_relationships.py:276-356) — a sort key as the blocking
    device instead of an equality key.

    Scale shape: a global sort in Spark would funnel one window partition;
    instead the corpus is blocked by the first word (at web scale: a
    coarser key prefix) and the lead() window runs WITHIN blocks —
    partitionBy(block) + orderBy(prefix), which partitions cleanly at any
    corpus size.  The verify is a pure array op on the pair — candidates
    are bounded at n·w, never n², and the shingle arrays ride the window
    rows so no second scan or join is needed."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    words = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("w")
    ).filter(F.size("w") >= 3)
    # docs under 3 words are excluded BEFORE shingling on both engines: a
    # 2-word doc cannot form a 3-gram, and the engines' out-of-bounds
    # semantics diverge (concat_ws skips NULLs, DuckDB || propagates) —
    # so the guard is both the correct semantics and the only
    # cross-engine-stable one.
    base = words.select(
        "doc_id",
        F.element_at("w", 1).alias("block"),
        F.concat_ws(" ", F.slice("w", 1, 8)).alias("sortkey"),
        F.expr(
            "array_distinct(transform(sequence(0, greatest(size(w) - 3, 0)),"
            " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
        ).alias("toks"),
    )
    w = Window.partitionBy("block").orderBy("sortkey", "doc_id")
    # window exprs must be materialized as columns BEFORE the explode (Spark
    # rejects window functions inside a generator's argument)
    with_leads = base.select(
        "doc_id",
        "toks",
        *[
            F.lead(
                F.struct(F.col("doc_id").alias("nb_id"), F.col("toks").alias("nb_toks")),
                i,
            )
            .over(w)
            .alias(f"_lead{i}")
            for i in range(1, SNM_WINDOW + 1)
        ],
    )
    cands = (
        with_leads.withColumn(
            "nb", F.explode(F.array(*[f"_lead{i}" for i in range(1, SNM_WINDOW + 1)]))
        )
        .filter(F.col("nb.nb_id").isNotNull())
        .select("doc_id", "toks", F.col("nb.nb_id").alias("nb_id"), F.col("nb.nb_toks").alias("nb_toks"))
    )
    inter = F.size(F.array_intersect("toks", "nb_toks")).cast("double")
    union = F.size(F.array_union("toks", "nb_toks")).cast("double")
    from ..functions.money import ratio

    jac = ratio(inter, union, 4)
    return (
        cands.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= SNM_MIN_JACCARD)
        .select(
            F.least("doc_id", "nb_id").alias("doc_a"),
            F.greatest("doc_id", "nb_id").alias("doc_b"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


def sorted_neighborhood_pairs_sql() -> str:
    from ..functions.money import ratio_sql

    lead_union = "\nUNION ALL\n".join(
        f"""
  SELECT doc_id, toks,
         lead(doc_id, {i}) OVER w{i} AS nb_id,
         lead(toks, {i}) OVER w{i} AS nb_toks
  FROM base
  WINDOW w{i} AS (PARTITION BY block ORDER BY sortkey, doc_id)"""
        for i in range(1, SNM_WINDOW + 1)
    )
    jac = ratio_sql(
        "len(list_intersect(toks, nb_toks))::double",
        "len(list_distinct(list_concat(toks, nb_toks)))::double",
        4,
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         w[1] AS block,
         array_to_string(list_slice(w, 1, 8), ' ') AS sortkey,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        FOR i IN range(1, greatest(len(w) - 1, 2))]) AS toks
  FROM (SELECT doc_id, string_split(trim(text, ' '), ' ') AS w FROM documents)
  WHERE len(w) >= 3
),
cands AS ({lead_union}),
scored AS (
  SELECT doc_id, nb_id, {jac} AS jaccard
  FROM cands
  WHERE nb_id IS NOT NULL
)
SELECT least(doc_id, nb_id) AS doc_a,
       greatest(doc_id, nb_id) AS doc_b,
       jaccard
FROM scored
WHERE jaccard >= {SNM_MIN_JACCARD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# blocker recall eval: SNM vs MinHash-LSH against exact-Jaccard truth
# ---------------------------------------------------------------------------

BLOCKER_TRUTH_JACCARD = 0.5  # the "real near-dup" bar for the ground truth


def blocker_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head recall of the two candidate-generation strategies —
    sorted-neighborhood (sort-key blocking) and MinHash-LSH (hash
    blocking) — against exact ground truth: all pairs whose pruned-shingle
    Jaccard clears ``BLOCKER_TRUTH_JACCARD`` (the inverted-index
    computation, exhaustive over the pruned shingle space, affordable as
    an EVAL).  One row per blocker plus their union: candidate volume,
    truth size, hits, recall.  This quantifies the complementarity claim
    the dedup family rests on — hash blocking catches permuted overlap,
    sort blocking catches shared prefixes, and the union's recall is what
    a production dedup stack actually ships.  Same measured-quality
    discipline as ann_recall_eval / dedup_recall_eval.

    Scale shape: all three inputs are existing bounded pipelines (truth
    rides the pruned inverted index; the blockers are the registered
    operators); the eval itself is two semi joins and three tiny
    aggregates."""
    truth = (
        ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= BLOCKER_TRUTH_JACCARD)
        .select("doc_a", "doc_b")
    )
    truth = tracked_persist(truth)
    snm = sorted_neighborhood_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # ONE tagged pass instead of per-blocker pipelines: the former shape
    # evaluated the SNM pipeline twice (own score + union) and ran three
    # separate semi-join jobs; both blockers emit DISTINCT pairs (SNM:
    # forward-only leads at fixed offsets; LSH: pair-grouped), so per-pair
    # membership flags make every count an exact sum over one grouped
    # frame.  n_candidates(snm) = Σ in_snm, (lsh) = Σ in_lsh, (union) =
    # row count; hits ride one join of the (persisted, candidate-sized)
    # flags onto the cached truth set.
    tagged = snm.select(
        "doc_a", "doc_b", F.lit(1).alias("s"), F.lit(0).alias("l")
    ).unionByName(lsh.select("doc_a", "doc_b", F.lit(0).alias("s"), F.lit(1).alias("l")))
    grouped = tracked_persist(
        tagged.groupBy("doc_a", "doc_b").agg(
            F.max("s").alias("in_snm"), F.max("l").alias("in_lsh")
        )
    )
    # coalesce every sum: over an EMPTY frame (sparse capstone corpus with
    # no candidate pairs) sum() is NULL where the former count(*) was 0 —
    # caught by test_capstone's oracle-parity corpus
    cand_counts = grouped.agg(
        F.coalesce(F.sum("in_snm"), F.lit(0)).alias("cand_snm"),
        F.coalesce(F.sum("in_lsh"), F.lit(0)).alias("cand_lsh"),
        F.count("*").alias("cand_union"),
    )
    hit_counts = truth.join(grouped, ["doc_a", "doc_b"], "left").agg(
        F.count("*").alias("n_truth"),
        F.coalesce(F.sum(F.coalesce(F.col("in_snm"), F.lit(0))), F.lit(0)).alias(
            "hit_snm"
        ),
        F.coalesce(F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))), F.lit(0)).alias(
            "hit_lsh"
        ),
        # union hit = the left join MATCHED (membership flags present);
        # spelled as an explicit matched-indicator sum rather than
        # count(in_snm) so the count doesn't read as SNM-specific
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_snm").isNotNull() | F.col("in_lsh").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("hit_union"),
    )
    stats = cand_counts.join(hit_counts)

    def score(name: str, cand_col: str, hit_col: str) -> DataFrame:
        return stats.select(
            F.lit(name).alias("blocker"),
            F.col(cand_col).alias("n_candidates"),
            "n_truth",
            F.col(hit_col).alias("n_hit"),
            # n_truth > 0 guard: an empty truth set (higher truth bar or
            # sparser corpus) would make Spark's 0/0 NULL but DuckDB's
            # NaN/inf under IEEE ops — same guard pattern as
            # experiment_conversion_ztest's z_ok
            F.when(
                F.col("n_truth") > 0,
                F.floor(
                    F.col(hit_col).cast("double") / F.col("n_truth") * 1000000.0 + 0.5
                )
                / 1000000.0,
            ).alias("recall"),
        )

    return (
        score("minhash_lsh", "cand_lsh", "hit_lsh")
        .unionByName(score("snm", "cand_snm", "hit_snm"))
        .unionByName(score("union", "cand_union", "hit_union"))
        .orderBy("blocker")
    )


def blocker_recall_eval_sql() -> str:
    truth_src = ngram_jaccard_pairs_sql().strip().rstrip()
    # reuse the full oracle SQL of each pipeline as a subquery
    snm_src = sorted_neighborhood_pairs_sql()
    lsh_src = minhash_lsh_pairs_sql()
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({truth_src}) WHERE jaccard >= {BLOCKER_TRUTH_JACCARD}
),
snm AS (SELECT doc_a, doc_b FROM ({snm_src})),
lsh AS (SELECT doc_a, doc_b FROM ({lsh_src})),
un AS (SELECT DISTINCT doc_a, doc_b FROM (SELECT * FROM snm UNION ALL SELECT * FROM lsh)),
scored AS (
  SELECT 'minhash_lsh' AS blocker,
         (SELECT count(*) FROM lsh) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM truth t SEMI JOIN lsh c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit
  UNION ALL
  SELECT 'snm',
         (SELECT count(*) FROM snm),
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM truth t SEMI JOIN snm c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
  UNION ALL
  SELECT 'union',
         (SELECT count(*) FROM un),
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM truth t SEMI JOIN un c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
)
SELECT blocker, n_candidates, n_truth, n_hit,
       CASE WHEN n_truth > 0
            THEN floor(n_hit::double / n_truth * 1000000.0 + 0.5) / 1000000.0
       END AS recall
FROM scored
ORDER BY blocker
"""


# ---------------------------------------------------------------------------
# repeated n-gram coverage — per-doc duplicated-span fraction
# ---------------------------------------------------------------------------


def repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a document's
    distinct 3-word shingles that also occur in at least one OTHER
    document (the RefinedWeb/SlimPajama "duplicated n-gram fraction"
    filter signal — a doc made mostly of spans seen elsewhere is
    boilerplate or a near-copy even when no single pair-level match
    fires).

    Rides the shared shingle scaffolding (:func:`_shingles_from_docs` —
    distinct shingles per doc, ANSI-safe short-doc guard); docs under 3
    words have no shingles and surface with ``n_grams = 0`` and a NULL
    fraction.

    Scale shape: the inverted-index pattern — one groupBy on the shingle
    key (document frequency), one join back on that key, one per-doc
    rollup.  Linear in corpus size at fixed shingle occupancy; a
    pathologically hot shingle (stopword run) is a skewed join key, which
    is exactly what AQE skew-split handles — and the join carries only
    (shingle, count), never text."""
    from ..functions.money import ratio

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sh = _shingles_df(spark, sf_dir).select("doc_id", "shingle")
    gram_df = sh.groupBy("shingle").agg(F.count("*").alias("n_docs_with"))
    per_doc = (
        sh.join(gram_df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("n_docs_with") >= 2).cast("bigint")).alias("n_dup_grams"),
        )
    )
    joined = docs.join(per_doc, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.when(
            F.col("n_grams").isNotNull(),
            ratio(F.col("n_dup_grams").cast("double"), F.col("n_grams").cast("double"), 4),
        ).alias("dup_fraction"),
    ).orderBy("doc_id")


def repeated_ngram_coverage_sql() -> str:
    from ..functions.money import ratio_sql

    frac = ratio_sql("n_dup_grams::double", "n_grams::double", 4)
    return f"""
WITH {_SHINGLES_SQL},
gram_df AS (
  SELECT shingle, count(*) AS n_docs_with FROM shingles GROUP BY shingle
),
per_doc AS (
  SELECT s.doc_id, count(*) AS n_grams,
         CAST(sum((g.n_docs_with >= 2)::int) AS BIGINT) AS n_dup_grams
  FROM shingles s JOIN gram_df g USING (shingle)
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       CASE WHEN p.n_grams IS NOT NULL THEN {frac} END AS dup_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# cross-source duplication matrix — where the near-dups come from
# ---------------------------------------------------------------------------


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts by unordered source pair: each verified
    MinHash pair at the clustering threshold
    (:data:`CLUSTER_JACCARD_MIN`, the same edges :func:`dedup_clusters`
    consumes) is attributed to its two documents' sources — the corpus
    diagnostic that separates "src A re-crawls itself" (diagonal) from
    "src A mirrors src B" (off-diagonal), which decide different fixes
    (crawl-frequency vs source-priority dedup).

    Mean jaccard is the exact-integer mean of the pairs' 1e-6 fixed-point
    values, so rows hash identically across engines.

    Scale shape: rides the session-materialized verified-pairs table; the
    two doc→source lookups are joins against the (doc_id, source)
    projection — pair-count-sized, not corpus-sized; the rollup output is
    |sources|² at worst."""
    pairs = minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_JACCARD_MIN
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    jm = F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            jm.alias("jm"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"), F.sum("jm").alias("sum_jm"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (
                F.floor(F.col("sum_jm").cast("double") / F.col("n_pairs") + 0.5)
                / 1000000.0
            ).alias("mean_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def cross_source_dup_matrix_sql() -> str:
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql()}),
attributed AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) AS jm
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
  WHERE p.jaccard >= {CLUSTER_JACCARD_MIN}
)
SELECT source_a, source_b, count(*) AS n_pairs,
       floor(sum(jm)::double / count(*) + 0.5) / 1000000.0 AS mean_jaccard
FROM attributed
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# cluster-safe split — near-dups never straddle train/val/test
# ---------------------------------------------------------------------------

SPLIT_VAL_LO = 80   # md5(cluster) buckets: [0,80) train, [80,90) val, [90,100) test
SPLIT_TEST_LO = 90


def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment: hash the dedup CLUSTER, not the
    document — every near-duplicate group lands wholly inside one of
    train/val/test, so eval can never score a paraphrase of a training
    doc.  ``train_test_split`` hashes doc_id and is exactly the splitter
    that LEAKS near-dups across the boundary; this is the corrected form
    every serious LLM data pipeline ships (the dedup-then-split
    discipline), built from the same LSH pair → star-contraction cluster
    machinery as :func:`dedup_clusters` (singletons cluster as
    themselves).

    Output: one row per split with document/cluster counts, the largest
    cluster routed there, and the AUDIT COLUMN ``cross_split_pairs`` —
    the number of LSH near-dup pairs whose endpoints landed in different
    splits, zero BY CONSTRUCTION (hashing the shared cluster id); the
    column exists so the invariant is measured, not assumed.

    Scale shape: clusters ride the star-contraction labels (log-diameter
    rounds); the split is a map-side md5 over the label; the audit joins
    the bounded pair set against the assignment twice on doc_id."""
    from .sampling import _md5_bucket

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_JACCARD_MIN
    )
    # (node, label) for clustered docs — the materialized labels table
    # (identical ids: same edge set, same contraction) instead of an
    # eager per-query star-contraction re-run (round 12)
    labels = _cluster_labels(spark, sf_dir).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("label")
    )
    assigned = docs.join(labels, docs.doc_id == labels.node, "left").select(
        "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id")
    )
    b = _md5_bucket(F.col("cluster_id"))
    split = (
        F.when(b < SPLIT_VAL_LO, "train")
        .when(b < SPLIT_TEST_LO, "val")
        .otherwise("test")
    )
    # ROUND-12 OPTIMIZATION (guide §5): assigned feeds four consumers
    # (cluster sizes, the per-split rollup, both audit endpoints) — cache
    # the (doc_id, cluster_id, split) frame so the docs⋈labels join and
    # md5 bucket compute once instead of four times.
    from ..io import tracked_persist

    assigned = tracked_persist(assigned.withColumn("split", split))
    csize = assigned.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    per_split = (
        assigned.join(csize, "cluster_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.max("cluster_size").alias("max_cluster_size"),
        )
    )
    a = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    bb = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    audit = (
        pairs.join(a, "doc_a")
        .join(bb, "doc_b")
        .groupBy(F.col("split_a").alias("split"))
        .agg(
            F.sum((F.col("split_a") != F.col("split_b")).cast("long")).alias(
                "cross_split_pairs"
            )
        )
    )
    return (
        per_split.join(audit, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "max_cluster_size",
            F.coalesce(F.col("cross_split_pairs"), F.lit(0)).alias("cross_split_pairs"),
        )
        .orderBy("split")
    )


def cluster_safe_split_sql() -> str:
    from .sampling import _md5_bucket_sql

    b = _md5_bucket_sql("cluster_id")
    return f"""
WITH RECURSIVE {_clusters_cte_sql()},
assigned AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
),
split_assigned AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {b} < {SPLIT_VAL_LO} THEN 'train'
              WHEN {b} < {SPLIT_TEST_LO} THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
),
csize AS (
  SELECT cluster_id, count(*) AS cluster_size FROM split_assigned GROUP BY cluster_id
),
per_split AS (
  SELECT split, count(*) AS n_docs,
         count(DISTINCT s.cluster_id) AS n_clusters,
         max(cluster_size) AS max_cluster_size
  FROM split_assigned s JOIN csize USING (cluster_id)
  GROUP BY split
),
audit AS (
  SELECT sa.split AS split,
         sum(CASE WHEN sa.split != sb.split THEN 1 ELSE 0 END) AS cross_split_pairs
  FROM pairs p
  JOIN split_assigned sa ON p.doc_a = sa.doc_id
  JOIN split_assigned sb ON p.doc_b = sb.doc_id
  WHERE p.jaccard >= {CLUSTER_JACCARD_MIN}
  GROUP BY sa.split
)
SELECT split, n_docs, n_clusters, max_cluster_size,
       CAST(coalesce(a.cross_split_pairs, 0) AS BIGINT) AS cross_split_pairs
FROM per_split LEFT JOIN audit a USING (split)
ORDER BY split
"""


def quality_dup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family measurement: per fixed-width quality-score bucket
    (floor(score·10), no global sort needed — the score is already
    0-bounded), the share of documents that sit in a near-dup cluster and
    that share's LIFT over the corpus-wide duplication rate.  This is the
    "is low quality where the duplication lives" readout a filtering
    pipeline uses to decide whether dedup and quality gates are redundant
    or complementary — the quality × dedup join neither family answers
    alone.

    Exactness: bucket from the micro-rounded composite score
    (:func:`textstats.quality_score_col` discipline), counts exact;
    dup_rate and lift are single micro-rounded divisions with the
    zero-denominator (no clustered docs anywhere) pinned NULL on both
    engines.

    Scale shape: cluster labels ride the star-contraction build; the
    join to quality is doc-keyed; the rollup is ≤ 11 buckets."""
    from .textstats import doc_stats, doc_stats_sql, quality_score_col  # noqa: F401

    stats = doc_stats(spark, sf_dir)
    scored = stats.select(
        "doc_id",
        F.floor(
            F.least(F.greatest(quality_score_col(), F.lit(0.0)), F.lit(1.0)) * 10.0
        )
        .cast("long")
        .alias("q_bucket"),
    )
    pairs = minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_JACCARD_MIN
    )
    clustered = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    joined = scored.join(clustered, "doc_id", "left").select(
        "q_bucket", F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup")
    )
    per_bucket = joined.groupBy("q_bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").alias("n_dup"),
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    tot_docs = F.sum("n_docs").over(wall)
    tot_dup = F.sum("n_dup").over(wall)
    micro = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    dup_rate = F.col("n_dup").cast("double") / F.col("n_docs").cast("double")
    corpus_rate = tot_dup.cast("double") / tot_docs.cast("double")
    return per_bucket.select(
        "q_bucket",
        "n_docs",
        "n_dup",
        micro(dup_rate).alias("dup_rate"),
        micro(
            F.when(tot_dup > 0, dup_rate / corpus_rate)
        ).alias("lift"),
    ).orderBy("q_bucket")


def quality_dup_lift_sql() -> str:
    from .textstats import doc_stats_sql, quality_score_sql

    return f"""
WITH stats AS ({doc_stats_sql()}),
scored AS (
  SELECT doc_id,
         CAST(floor(least(greatest({quality_score_sql()}, 0.0), 1.0) * 10.0)
              AS BIGINT) AS q_bucket
  FROM stats
),
pairs AS ({minhash_lsh_pairs_sql()}),
clustered AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs WHERE jaccard >= {CLUSTER_JACCARD_MIN}
    UNION ALL
    SELECT doc_b FROM pairs WHERE jaccard >= {CLUSTER_JACCARD_MIN}
  )
),
joined AS (
  SELECT s.q_bucket, CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
  FROM scored s LEFT JOIN clustered c USING (doc_id)
),
per_bucket AS (
  SELECT q_bucket, count(*) AS n_docs, sum(is_dup) AS n_dup
  FROM joined GROUP BY q_bucket
)
SELECT q_bucket, n_docs, CAST(n_dup AS BIGINT) AS n_dup,
       floor(n_dup::double / n_docs::double * 1000000.0 + 0.5) / 1000000.0
         AS dup_rate,
       floor(CASE WHEN sum(n_dup) OVER () > 0
                  THEN (n_dup::double / n_docs::double)
                       / (sum(n_dup) OVER ()::double / sum(n_docs) OVER ()::double)
             END * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM per_bucket
ORDER BY q_bucket
"""


NEAR_DUP_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


def near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness curve: for each candidate Jaccard threshold,
    how many verified near-dup pairs survive and how many distinct
    documents they touch — the table a corpus owner reads BEFORE picking
    the dedup threshold (the knee of this curve is the policy decision;
    running dedup at one blind τ is how you either keep boilerplate or
    delete paraphrases).

    Exactness: rides :func:`minhash_lsh_pairs`' verified true-Jaccard
    pairs (already 1e-6 fixed point); each grid row is integer counts
    over that table.  Document counts use the pair-endpoint union.

    Scale shape: the pair table is the banded-LSH output (linear, never
    all-pairs); the sweep is |grid| × pair-table aggregations over a
    broadcast 5-row grid."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    grid = spark.createDataFrame(
        [(float(t),) for t in NEAR_DUP_TAUS], "tau double"
    )
    j = pairs.join(F.broadcast(grid), F.col("jaccard") >= F.col("tau"))
    per_tau = j.groupBy("tau").agg(
        F.count("*").alias("n_pairs"),
    )
    docs = (
        j.select("tau", F.col("doc_a").alias("d"))
        .unionByName(j.select("tau", F.col("doc_b").alias("d")))
        .groupBy("tau")
        .agg(F.countDistinct("d").alias("n_docs_involved"))
    )
    out = (
        grid.join(per_tau, "tau", "left")
        .join(docs, "tau", "left")
        .select(
            "tau",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("n_docs_involved"), F.lit(0)).alias("n_docs_involved"),
        )
    )
    return out.orderBy("tau")


def near_dup_threshold_sweep_sql() -> str:
    taus = ", ".join(f"({t!r}::double)" for t in NEAR_DUP_TAUS)
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql()}),
grid AS (SELECT * FROM (VALUES {taus}) g(tau)),
j AS (
  SELECT g.tau, p.doc_a, p.doc_b FROM pairs p JOIN grid g ON p.jaccard >= g.tau
),
per_tau AS (SELECT tau, count(*) AS n_pairs FROM j GROUP BY tau),
docs AS (
  SELECT tau, count(DISTINCT d) AS n_docs_involved
  FROM (SELECT tau, doc_a AS d FROM j UNION ALL SELECT tau, doc_b FROM j)
  GROUP BY tau
)
SELECT g.tau, coalesce(p.n_pairs, 0) AS n_pairs,
       coalesce(d.n_docs_involved, 0) AS n_docs_involved
FROM grid g LEFT JOIN per_tau p USING (tau) LEFT JOIN docs d USING (tau)
ORDER BY g.tau
"""


def cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size spectrum: how many clusters exist at each
    size, what share of the corpus sits in clusters ≥ that size, and the
    log-log slope of the size-frequency curve — the shape that tells a
    corpus owner whether duplication is a few mega-clusters (boilerplate:
    collapse aggressively) or a long tail of pairs (paraphrase: collapse
    carefully).  Power-law-ish slopes are the norm; a kink is news.

    Exactness: the spectrum is exact integer counts over the cluster
    table; the slope is an exact-moment OLS over (ln size, ln count)
    pairs nano-quantized per point BEFORE the bounded-frame sums —
    ≤ |distinct sizes| rows, so the regression is a tiny fold.

    Scale shape: one distinct-collapse of the cluster table, one groupBy
    onto the size vocabulary; everything after is size-vocabulary-bounded."""
    from pyspark.sql import Window

    clusters = dedup_clusters(spark, sf_dir).select("cluster_id", "cluster_size")
    distinct_clusters = clusters.distinct()
    spectrum = distinct_clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )
    w = Window.orderBy(F.desc("cluster_size")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    enriched = spectrum.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
    ).select(
        "*",
        F.sum("n_docs").over(w).alias("docs_ge"),
        F.sum("n_docs").over(tot).alias("docs_total"),
        F.count("*").over(tot).alias("k_sizes"),
    )
    ln_s = F.floor(F.log(F.col("cluster_size").cast("double")) * 1000000000.0 + 0.5).cast("long")
    ln_c = F.floor(F.log(F.col("n_clusters").cast("double")) * 1000000000.0 + 0.5).cast("long")
    moments = enriched.select(
        "*",
        F.sum(ln_s).over(tot).alias("sx"),
        F.sum(ln_c).over(tot).alias("sy"),
        F.sum(dec38(ln_s) * dec38(ln_s)).over(tot).alias("sxx"),
        F.sum(dec38(ln_s) * dec38(ln_c)).over(tot).alias("sxy"),
    )
    kd = F.col("k_sizes").cast("double")
    num = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / kd
    den = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / kd
    from ..functions.money import micro, ratio

    return moments.select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        ratio(F.col("docs_ge").cast("double"), F.col("docs_total").cast("double"), 6).alias(
            "share_docs_in_ge"
        ),
        F.when((F.col("k_sizes") > 1) & (den != 0.0), micro(num / den)).alias(
            "loglog_slope"
        ),
    ).orderBy("cluster_size")


def cluster_size_distribution_sql() -> str:
    from ..functions.money import micro_sql, ratio_sql

    return f"""
WITH clusters AS ({dedup_clusters_sql()}),
dc AS (SELECT DISTINCT cluster_id, cluster_size FROM clusters),
spectrum AS (
  SELECT cluster_size, count(*) AS n_clusters,
         cluster_size * count(*) AS n_docs
  FROM dc GROUP BY cluster_size
),
enriched AS (
  SELECT *,
         sum(n_docs) OVER (ORDER BY cluster_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS docs_ge,
         sum(n_docs) OVER () AS docs_total,
         count(*) OVER () AS k_sizes,
         CAST(floor(ln(cluster_size::double) * 1000000000.0 + 0.5) AS BIGINT) AS lns,
         CAST(floor(ln(n_clusters::double) * 1000000000.0 + 0.5) AS BIGINT) AS lnc
  FROM spectrum
),
moments AS (
  SELECT *,
         sum(lns) OVER () AS sx,
         sum(lnc) OVER () AS sy,
         sum(lns::hugeint * lns::hugeint) OVER () AS sxx,
         sum(lns::hugeint * lnc::hugeint) OVER () AS sxy
  FROM enriched
)
SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(n_docs AS BIGINT) AS n_docs,
       {ratio_sql('docs_ge::double', 'docs_total::double', 6)} AS share_docs_in_ge,
       CASE WHEN k_sizes > 1
             AND (sxx::double - sx::double * sx::double / k_sizes::double) != 0.0
            THEN {micro_sql('(sxy::double - sx::double * sy::double / k_sizes::double)'
                            ' / (sxx::double - sx::double * sx::double / k_sizes::double)')}
       END AS loglog_slope
FROM moments
ORDER BY cluster_size
"""
