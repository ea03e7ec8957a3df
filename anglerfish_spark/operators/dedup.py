"""Deduplication operators: exact, MinHash+LSH banding, SimHash, and
blocked n-gram Jaccard.

Design for 100 TB:

* **Exact** — hash-groupBy on an md5 fingerprint: one shuffle keyed by the
  hash, perfectly combinable, no skew beyond true duplicate groups.
* **MinHash+LSH** — per-doc signatures are computed entirely map-side
  (shingle hashes materialize inside the array; each lane is an
  ``array_min``): the pipeline's first shuffle is the *bucket join* on
  (band, band-key), never an all-pairs product — cost scales with bucket
  occupancy, the classic LSH trade-off.  Hash family is md5 with salt
  ``i|shingle`` — no RNG, reproducible across engines and runs.
* **SimHash** — pure map (per-row ``aggregate`` bit votes over in-array
  token md5s, order-free, exact); grouping identical signatures is one
  combinable shuffle.
* **n-gram Jaccard** — all-pairs *within blocking keys* (lang, source)
  only; blocks bound the quadratic term, the standard blocked-dedup shape.

Everything is built-in expressions; md5/array ops are whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import ConvergenceError
from ..memo import STAGE_SECONDS, scratch_dir, timed
from ..registry import query
from ..session import prepare
from ..sources.registry import load_table
from .common import dsum, dsum_sql
from .text import TOKENS_SQL, tokens

N_MINHASH = 8  # 8 hashes → 4 bands of 2 rows (b=4, r=2)
N_BANDS = 4


def shingles(tok: Column, n: int = 3) -> Column:
    """Word 3-gram shingles (distinct), empty when the doc is too short.

    Built from three shifted slices merged with two linear ``zip_with``
    passes — O(tokens) total.  (The obvious ``transform(sequence, i ->
    slice(tok, i, 3))`` is O(tokens²): one array slice per index, and
    measured ~2s of the LSH pipeline at sf0.1.)
    """
    assert n == 3, "shingle builder is specialized to 3-grams"
    m = F.size(tok) - (n - 1)
    a = F.slice(tok, 1, m)
    b = F.slice(tok, 2, m)
    c = F.slice(tok, 3, m)
    grams = F.zip_with(
        F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y)),
        c,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    return F.when(F.size(tok) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


_SHINGLES_SQL = f"""
list_distinct([
  array_to_string(list_slice({TOKENS_SQL}, i, i + 2), ' ')
  for i in generate_series(1, len({TOKENS_SQL}) - 2)
])
""".strip()


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle=f"""
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp
      FROM documents)
GROUP BY fp
HAVING COUNT(*) > 1
ORDER BY fp
""",
    group="llm-dedup",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by canonicalized content hash (sorted distinct
    token bag — catches reorder/repeat-only edits); keep the smallest
    doc_id.  One combinable shuffle keyed by the hash."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary")
    ).alias("fp")
    return (
        d.select("doc_id", fp)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_docs") > 1)
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """Per-doc MinHash signature columns h0..h{n-1}.

    Hash family: md5 split into 8-hex-char lanes — two salted md5s per
    shingle yield 8 independent 32-bit hashes at 1/4 the hashing cost of
    one md5 per hash (measured hot spot).  min over hex strings is a
    total order both engines share (ASCII), applied per lane.

    Entirely map-side: shingle hashes are computed *inside* the array
    (one ``transform`` materializes both md5s per shingle), and each lane
    is an ``array_min`` over a substring view — no explode, no shuffle.
    The first exchange of the whole LSH pipeline is the band bucket join.
    Shingle-less docs carry null lanes; null band keys never join, which
    matches the grouped-explode formulation where such docs vanish.
    """
    assert n_hashes <= 8, "lane scheme provides up to 8 hashes (2 md5s x 4 lanes)"
    hashed = F.transform(
        shingles(tokens()),
        lambda s: F.struct(
            F.md5(F.concat(F.lit("a|"), s).cast("binary")).alias("ma"),
            F.md5(F.concat(F.lit("b|"), s).cast("binary")).alias("mb"),
        ),
    )
    def lane(f: str, p: int):
        # plain closure: extra defaulted lambda params would be miscounted
        # as higher-order-function arguments by the lambda binder
        return lambda x: F.substring(x[f], p, 8)

    lanes = []
    for i in range(n_hashes):
        src = "ma" if i < 4 else "mb"
        start = (i % 4) * 8 + 1
        lanes.append(F.array_min(F.transform(F.col("_h"), lane(src, start))).alias(f"h{i}"))
    return docs.select("doc_id", hashed.alias("_h")).select("doc_id", *lanes)


def lsh_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) rows: signature lanes paired into
    N_BANDS band keys — the LSH bucket assignment."""
    sig = minhash_signatures(docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}")).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


#: default bucket-occupancy cap for the LSH band join.  A bucket's join
#: cost is O(n²); a degenerate band key (empty docs, boilerplate sharing a
#: signature) turns one bucket into the whole job's runtime at 100 TB.
#: Buckets above the cap are quarantined out of the join — at 1000 docs a
#: bucket is no longer "near-duplicate candidates", it is a boilerplate
#: cluster that deserves its own treatment (exact-dedup the bucket, or
#: sample it).  Max observed occupancy on testdata: 3 at sf0.01, 10 at
#: sf0.1 — the default never binds below ~sf100, so capped and uncapped
#: outputs are identical everywhere the oracle runs; q_dedup_lsh_skewcap
#: registers a low-cap variant whose oracle models the quarantine exactly.
LSH_MAX_BUCKET = 1000


def lsh_hot_buckets(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Buckets whose occupancy exceeds the cap: (band_id, band_key,
    bucket_n).  One combinable count keyed exactly like the band join."""
    return (
        bands.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .where(F.col("bucket_n") > max_bucket)
    )


def lsh_candidate_pairs(
    docs: DataFrame, with_band: bool = False, max_bucket: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) from the band bucket join;
    with ``with_band`` each row also carries the matching band_id
    (callers that only need the pair set get it pre-distinct).

    Skew guard: when ``max_bucket`` is set, bucket occupancy is computed
    as an unordered window count partitioned by the JOIN key itself
    (band_id, band_key) and over-cap rows are filtered before the join.
    That shape costs exactly one exchange: the window's hash partitioning
    satisfies the self-join's distribution requirement, so the join adds
    no new shuffle, and — unlike a count-aggregate + anti-join, which
    re-evaluates the band lineage (the minhash signatures, the pipeline's
    CPU hot spot) on a second branch — the signatures are computed once
    (measured: the agg+anti-join variant nearly doubled q_dedup_minhash_lsh
    at sf0.1).  Quarantined buckets are recoverable via
    :func:`lsh_hot_buckets`."""
    from pyspark.sql import Window

    bands = lsh_bands(docs)
    if max_bucket is not None:
        w_bucket = Window.partitionBy("band_id", "band_key")
        bands = (
            bands.withColumn("bucket_n", F.count(F.lit(1)).over(w_bucket))
            .where(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n")
        )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.band_id").alias("band_id"),
    )
    if with_band:
        return pairs
    return pairs.select("doc_a", "doc_b").distinct()


@query(
    "q_dedup_minhash_lsh",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
),
sig AS (
  SELECT doc_id,
         {", ".join(
           f"MIN(substring(md5('{'a' if i < 4 else 'b'}|' || s), {(i % 4) * 8 + 1}, 8)) AS h{i}"
           for i in range(N_MINHASH)
         )}
  FROM sh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, h{2*b} || h{2*b+1} AS band_key FROM sig"
    for b in range(N_BANDS)
  )}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, COUNT(DISTINCT band_id) AS n_shared_bands
FROM pairs GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
""",
    group="llm-dedup",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash signatures + LSH banding
    (b=4 bands of r=2): docs sharing any band bucket become candidates —
    a bucket join, not an all-pairs product."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    return (
        lsh_candidate_pairs(d, with_band=True)
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band_id").alias("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    )


#: DuckDB CTE chain reproducing the engine's minhash/band/candidate-pair
#: pipeline (shared by the lsh-verify and connected-components oracles)
_PAIRS_CTE = f"""
sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
),
sig AS (
  SELECT doc_id,
         {", ".join(
           f"MIN(substring(md5('{'a' if i < 4 else 'b'}|' || s), {(i % 4) * 8 + 1}, 8)) AS h{i}"
           for i in range(N_MINHASH)
         )}
  FROM sh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, h{2*b} || h{2*b+1} AS band_key FROM sig"
    for b in range(N_BANDS)
  )}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
"""


@query(
    "q_dedup_lsh_verify",
    oracle=f"""
WITH {_PAIRS_CTE},
sh_sets AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         / (len(a.sh) + len(b.sh)
            - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jaccard
FROM pairs p
JOIN sh_sets a ON a.doc_id = p.doc_a
JOIN sh_sets b ON b.doc_id = p.doc_b
WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
      / (len(a.sh) + len(b.sh)
         - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.7
ORDER BY doc_a, doc_b
""",
    group="llm-dedup",
)
def q_dedup_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pipeline: LSH band buckets propose
    candidate pairs (sub-quadratic), then *exact* shingle-set Jaccard
    verifies each candidate, keeping pairs ≥ 0.7.  Verification cost
    scales with candidate count, not n² — the shape that survives 100 TB;
    the shingle sets ride along the two candidate joins instead of a
    third scan of the corpus."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    pairs = lsh_candidate_pairs(d)
    sh_sets = d.select("doc_id", shingles(tokens()).alias("sh"))
    sa, sb = sh_sets.alias("sa"), sh_sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    jac = inter.cast("double") / union
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.7)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q_dedup_lsh_skewcap",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
),
sig AS (
  SELECT doc_id,
         {", ".join(
           f"MIN(substring(md5('{'a' if i < 4 else 'b'}|' || s), {(i % 4) * 8 + 1}, 8)) AS h{i}"
           for i in range(N_MINHASH)
         )}
  FROM sh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, h{2*b} || h{2*b+1} AS band_key FROM sig"
    for b in range(N_BANDS)
  )}
),
occ AS (SELECT band_id, band_key, COUNT(*) AS n FROM bands GROUP BY 1, 2),
stats AS (
  SELECT band_id,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(COUNT(*) FILTER (n > 2) AS BIGINT) AS n_quarantined,
         CAST(COALESCE(SUM(n) FILTER (n > 2), 0) AS BIGINT) AS n_docs_quarantined
  FROM occ GROUP BY band_id
),
ok AS (
  SELECT b.* FROM bands b
  JOIN occ o ON b.band_id = o.band_id AND b.band_key = o.band_key
  WHERE o.n <= 2
),
pc AS (
  SELECT a.band_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM ok a JOIN ok b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY a.band_id
)
SELECT s.band_id, s.n_buckets, s.n_quarantined, s.n_docs_quarantined,
       CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs
FROM stats s LEFT JOIN pc ON s.band_id = pc.band_id
ORDER BY s.band_id
""",
    group="llm-dedup",
)
def q_dedup_lsh_skewcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH skew guard, observable: per band, bucket census + how many
    buckets a (deliberately low) occupancy cap of 2 quarantines, and the
    candidate-pair count from the *capped* join.  This is the 100 TB
    protection for the band self-join — a degenerate band key (empty docs,
    shared boilerplate) makes one bucket O(n²); counting occupancy first
    (one combinable agg on the join's own key) and anti-joining the tiny
    hot-bucket list (broadcast) bounds every bucket's cost by cap² without
    a second shuffle.  The oracle reproduces census, quarantine, and capped
    pairs exactly, so the guard's semantics — not just its existence — are
    under the hash check.  Production queries run the same guard at
    LSH_MAX_BUCKET=1000, which never binds at test scales (max occupancy:
    3 at sf0.01, 10 at sf0.1)."""
    prepare(spark)
    cap = 2
    d = load_table(spark, sf_dir, "documents", fanout=True)
    bands = lsh_bands(d)
    occ = bands.groupBy("band_id", "band_key").agg(F.count(F.lit(1)).alias("bucket_n"))
    bucket_stats = occ.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.count(F.when(F.col("bucket_n") > cap, 1)).cast("bigint").alias("n_quarantined"),
        F.coalesce(
            F.sum(F.when(F.col("bucket_n") > cap, F.col("bucket_n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_docs_quarantined"),
    )
    pair_counts = (
        lsh_candidate_pairs(d, with_band=True, max_bucket=cap)
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return (
        bucket_stats.join(pair_counts, "band_id", "left")
        .withColumn("n_pairs", F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint"))
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


@query(
    "q_dedup_simhash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS t FROM documents
),
bits AS (
  SELECT doc_id,
         {", ".join(
            f"SUM(CASE WHEN substring(md5(t), {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{j}"
            for j in range(SIMHASH_BITS)
         )}
  FROM tok GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         {" || ".join(f"CASE WHEN b{j} >= 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS))}
         AS simhash
  FROM bits
)
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM sigs GROUP BY simhash
ORDER BY simhash
""",
    group="llm-dedup",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per doc (md5-derived bit votes, integer sums — exact
    and order-free); identical signatures group as near-dup clusters.

    Signatures are computed per row — token md5s materialize once inside
    the array, each bit is an ``aggregate`` vote over it — so the only
    shuffle left is the final tiny groupBy(simhash).  (The grouped-explode
    formulation shuffled one row per *token*, keyed by doc_id.)  Token-less
    docs are filtered out, matching the unnest formulation where they
    produce no rows.
    """
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    hashed = F.transform(tokens(), lambda t: F.md5(t.cast("binary")))

    # the 16 bit-vote aggregates as ONE parsed SQL expression each (r14-opt,
    # guide §1.2 applied to the DRIVER: the lambda-Column form of this exact
    # expression cost ~2500 py4j round trips per invocation — each
    # F.aggregate + nested F.when builds its tree one remote call at a
    # time, while F.expr parses the whole tree JVM-side in one call).
    # CASE WHEN ... THEN 1 ELSE -1 END is precisely when/otherwise, so the
    # analyzed expression — and the oracle-pinned result — is unchanged.
    bit_cols = [
        F.expr(
            f"aggregate(_h, 0, (acc, x) -> acc + "
            f"(CASE WHEN substring(x, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END))"
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = (
        # filter on the raw token count — a predicate on size(_h) would get
        # the md5 transform substituted into it by projection collapse
        d.where(F.size(tokens()) > 0)
        .select("doc_id", hashed.alias("_h"))
        .select("doc_id", *bit_cols)
    )
    sig = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN b{j} >= 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS)
        )
        + ")"
    ).alias("simhash")
    return (
        bits.select("doc_id", sig)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .orderBy("simhash")
    )


# ---------------------------------------------------------------------------
# blocked n-gram Jaccard
# ---------------------------------------------------------------------------


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, source, list_distinct({TOKENS_SQL}) AS tok
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_filter(a.tok, x -> list_contains(b.tok, x))) AS inter,
         len(a.tok) + len(b.tok)
           - len(list_filter(a.tok, x -> list_contains(b.tok, x))) AS uni
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / uni >= 0.5
ORDER BY doc_a, doc_b
""",
    group="llm-dedup",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard ≥ 0.5 over pairs blocked by (lang, source) —
    refined with an *exact* length-band key that bounds the quadratic term
    by design (ADVICE r2).

    Jaccard ≥ t implies min(|A|,|B|)/max(|A|,|B|) ≥ t (since
    |A∩B| ≤ min and |A∪B| ≥ max), so for t = 0.5 a qualifying pair's
    ``floor(log2(token_count))`` bands differ by at most 1.  Joining
    same-band plus adjacent-band therefore loses NOTHING — the output is
    identical to the naive (lang, source)-block quadratic — while the
    pair count drops from O(block²) to O(Σ band·(band+next)): at 100 TB a
    corpus-sized (lang, source) block no longer implies a corpus-sized
    cross product, because documents only pair within a 2× length range
    (standard prefix/length filtering from the similarity-join
    literature).  Both joins are equi-joins (lb in the key → visible in
    the plan's join keys); the exact Jaccard filter runs per candidate.
    """
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True).select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(tokens()).alias("tok"),
    )
    d = d.withColumn("lb", F.floor(F.log2(F.greatest(F.size("tok"), F.lit(1)))))
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    uni = F.size(F.col("a.tok")) + F.size(F.col("b.tok")) - inter
    jac = inter.cast("double") / uni
    base = (F.col("a.lang") == F.col("b.lang")) & (F.col("a.source") == F.col("b.source"))
    # same band: doc_id order dedups the pair; adjacent band: the band
    # inequality already dedups, least/greatest restores id order
    same = a.join(
        b,
        base & (F.col("a.lb") == F.col("b.lb")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        jac.alias("jaccard"),
    )
    adj = a.join(b, base & (F.col("a.lb") + 1 == F.col("b.lb"))).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        jac.alias("jaccard"),
    )
    # jaccard is NaN for a pair of empty token sets (0/0): Spark's NaN
    # compares greater than 0.5 while DuckDB's 0/0 yields NULL — require a
    # non-NaN score explicitly so both engines drop the degenerate pairs
    return (
        same.unionAll(adj)
        .where(~F.isnan("jaccard") & (F.col("jaccard") >= 0.5))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: connected components over candidate pairs
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, src: str, dst: str, max_iter: int = 15) -> DataFrame:
    """Connected components by min-label propagation with pointer jumping.

    A genuinely iterative distributed algorithm (not SQL-expressible in one
    query).  Each round does (1) a neighbor-min step — join labels across
    edges, keep the minimum — and (2) a pointer-jump step — replace each
    label by *its* label (``label := labels[label]``, valid because a label
    is always a node id and labels only decrease).  The jump halves the
    depth of every label chain, so convergence is O(log diameter) rounds
    rather than O(diameter): a path graph of 30k nodes converges in ~15
    rounds instead of 30k.  The driver only coordinates rounds (one
    existence check per iteration); labels and edges stay distributed, and
    each round's result is localCheckpoint'd to truncate lineage (without
    it round *i* would recompute rounds 1..i-1).

    Raises :class:`ConvergenceError` if a fixed point is not reached within
    ``max_iter`` rounds — silently-partial labels would diverge from the
    transitive-closure oracle (ADVICE r1).
    """
    # symmetrize with one explode (a union of two projections would run the
    # candidate-pair pipeline twice), then localCheckpoint: the edge
    # relation is referenced by every round's join AND the convergence
    # check — without truncation each round re-derives the whole LSH
    # pipeline from the documents scan (measured 6.1 s → 3.5 s at sf0.1
    # for q_dedup_components).  Same role as labels' per-round checkpoint;
    # GraphX materializes its edge RDD for iterative algorithms for the
    # same reason.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("t")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("t")),
                )
            ).alias("e")
        )
        .select("e.s", "e.t")
        # eager=False: merely *constructing* (or explaining) the plan must
        # not run the whole LSH candidate pipeline as a job; truncation
        # still happens at the first action.  Trade-off: localCheckpoint
        # blocks are not fault-tolerant either way — on a long-lived
        # cluster where executor loss matters, swap for reliable
        # checkpoint() against a checkpoint dir.
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.s == labels.node)
            .select(F.col("t").alias("node"), F.col("label"))
            .groupBy("node")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr, "node", "left")
            .select("node", F.least(F.col("label"), F.col("nbr_min")).alias("label"))
        )
        # pointer jump: labels[label] ≤ label by the monotone-min invariant
        jump = stepped.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
        new_labels = (
            stepped.join(jump, stepped.label == jump.pnode, "left")
            .select("node", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise ConvergenceError(
        f"connected_components did not converge within {max_iter} rounds "
        f"(component diameter exceeds 2^{max_iter}); raise max_iter"
    )


@query(
    "q_dedup_components",
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTE},
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
)
SELECT s AS doc_id, LEAST(s, MIN(t)) AS component
FROM reach GROUP BY s
ORDER BY doc_id
""",
    group="llm-dedup",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters*: LSH candidate pairs → connected
    components (iterative min-label propagation); each doc maps to its
    cluster representative (minimum doc_id).  The DuckDB oracle computes
    the same components via a recursive transitive closure."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    comp = connected_components(lsh_candidate_pairs(d), "doc_a", "doc_b")
    return comp.select(F.col("node").alias("doc_id"), F.col("label").alias("component")).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate detection
# ---------------------------------------------------------------------------

from .similarity import DIM, _hyperplanes, _sig_sql, cosine, cosine_sql, lsh_signature_batch

EMB_PLANES = _hyperplanes(32)  # 32 hyperplanes → 4 bands of 8 bits
EMB_BANDS = 4
EMB_BAND_BITS = 8
N_PERTURB = 25  # vec_id < 25 get a perturbed near-copy (vec_id + 10000)
EMB_THRESHOLD = 0.99

_AUG_EMB_SQL = (
    "[CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.05 "
    "ELSE CAST(embedding[i] AS DOUBLE) END "
    f"for i in generate_series(1, {DIM})]"
)
_DBL_EMB_SQL = f"[CAST(embedding[i] AS DOUBLE) for i in generate_series(1, {DIM})]"


@query(
    "q_dedup_embedding",
    oracle=f"""
WITH aug AS (
  SELECT vec_id + 10000 AS vec_id, {_AUG_EMB_SQL} AS emb
  FROM embeddings WHERE vec_id < {N_PERTURB}
),
corpus AS (
  SELECT vec_id, {_DBL_EMB_SQL} AS emb FROM embeddings
  UNION ALL SELECT vec_id, emb FROM aug
),
sigs AS (SELECT vec_id, {{sig}} AS sig FROM corpus),
bands AS (
  SELECT vec_id, b AS band_id, substring(sig, {EMB_BAND_BITS} * b + 1, {EMB_BAND_BITS}) AS band_key
  FROM sigs, generate_series(0, {EMB_BANDS - 1}) t(b)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.vec_a, p.vec_b, {cosine_sql('x.emb', 'y.emb')} AS score
  FROM pairs p
  JOIN corpus x ON x.vec_id = p.vec_a
  JOIN corpus y ON y.vec_id = p.vec_b
)
SELECT vec_a, vec_b, score FROM scored
WHERE score >= {EMB_THRESHOLD}
ORDER BY vec_a, vec_b
""".format(sig=_sig_sql("emb", EMB_PLANES)),
    group="llm-dedup",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    The synthetic corpus has no true near-dups (max pairwise cosine ~0.51),
    so the query plants them: vectors with vec_id < N_PERTURB get a
    deterministically perturbed copy (first coordinate +0.05, id +10000) —
    cosine(original, copy) ≈ 0.9999 — and the detector must find exactly
    those pairs.

    Scale shape: banded random-hyperplane LSH (4 bands x 8 bits here; at
    production scale raise bits/band to push the random-collision rate
    down the S-curve) generates candidates from band-key equi-joins — cost
    is sum of bucket^2, never corpus^2.  Candidate pairs are de-duplicated
    BEFORE the embedding join-back, so the wide vectors are shuffled once
    for scoring, not once per band.
    """
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x.cast("double") + F.lit(0.05)).otherwise(x.cast("double")),
    )
    base = e.select("vec_id", as_double.alias("emb"))
    aug = e.where(F.col("vec_id") < N_PERTURB).select(
        (F.col("vec_id") + 10000).alias("vec_id"), perturbed.alias("emb")
    )
    corpus = base.unionByName(aug)
    sigs = corpus.select("vec_id", lsh_signature_batch(F.col("emb"), EMB_PLANES).alias("sig"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.substring("sig", EMB_BAND_BITS * b + 1, EMB_BAND_BITS).alias("band_key"),
            )
            for b in range(EMB_BANDS)
        ]
    )
    bands = sigs.select("vec_id", F.explode(band_structs).alias("b")).select(
        "vec_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )
    # the self-join below references bands on BOTH sides and Catalyst does
    # not reuse non-exchange subtrees, so without a cut the 32-plane
    # signature (higher-order functions — CodegenFallback, interpreted per
    # row) would run twice; the band relation is (id, band_id, 8-char key)
    # — tiny — so truncate lineage once (lazy: materializes at first
    # action, SCALE.md union-reuse lesson)
    bands = bands.localCheckpoint(eager=False)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = corpus.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    y = corpus.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    return (
        pairs.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", cosine(F.col("emb_a"), F.col("emb_b")).alias("score"))
        .where(F.col("score") >= EMB_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# PageRank power-iteration step over the near-dup graph
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
#: 1 - PR_DAMPING as a LITERAL, not computed: DuckDB evaluates
#: ``1.0 - 0.85`` in exact decimals (0.15 → the double nearest 0.15),
#: while double arithmetic gives 0.15000000000000002 — a one-ULP rank
#: divergence that surfaced at sf0.1 (caught by the scale sweep)
PR_RESIDUAL = 0.15


@query(
    "q_dedup_pagerank",
    oracle=f"""
WITH {_PAIRS_CTE},
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
n AS (SELECT COUNT(DISTINCT s) AS cnt FROM edges),
deg AS (SELECT s AS node, COUNT(*) AS d FROM edges GROUP BY s),
contrib AS (
  SELECT e.t AS node, (1.0 / (SELECT cnt FROM n)) / dg.d AS c
  FROM edges e JOIN deg dg ON dg.node = e.s
)
SELECT node AS doc_id,
       {PR_RESIDUAL} / (SELECT cnt FROM n)
         + {PR_DAMPING} * {dsum_sql('c')} AS rank
FROM contrib
GROUP BY node
ORDER BY doc_id
""",
    group="llm-dedup",
)
def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step over the near-duplicate graph
    (uniform initial ranks): rank mass flows along LSH candidate edges —
    highly-duplicated docs surface as hubs, the centrality signal used to
    pick cluster representatives.

    The iterative-graph shape at scale: per step one edge⋈degree join and
    one combinable aggregation keyed by node; ranks never leave the
    cluster, the driver only coordinates steps.  Contribution sums use the
    decimal contract so ranks are partition-order independent (float
    accumulation would drift per shuffle)."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    pairs = lsh_candidate_pairs(d)
    # symmetrize with one explode, not a union of two projections: a union
    # re-evaluates the candidate-pair pipeline per branch (AQE reuses only
    # the exchanges inside it, not the join/distinct segments above them)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("s"), F.col("doc_b").alias("t")),
                F.struct(F.col("doc_b").alias("s"), F.col("doc_a").alias("t")),
            )
        ).alias("e")
    ).select("e.s", "e.t")
    n = edges.agg(F.countDistinct("s").alias("cnt"))
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    contrib = (
        edges.join(deg, "s")
        .join(F.broadcast(n))
        .select(F.col("t").alias("node"), ((F.lit(1.0) / F.col("cnt")) / F.col("d")).alias("c"))
    )


    return (
        contrib.join(F.broadcast(n))
        .groupBy("node", "cnt")
        .agg(dsum(F.col("c")).alias("mass"))
        .select(
            F.col("node").alias("doc_id"),
            (
                F.lit(PR_RESIDUAL) / F.col("cnt") + F.lit(PR_DAMPING) * F.col("mass")
            ).alias("rank"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing index
# ---------------------------------------------------------------------------


@query(
    "q_dedup_incremental",
    oracle=f"""
WITH {_PAIRS_CTE},
newdocs AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp
  FROM documents WHERE doc_id % 10 = 0
),
idx AS (
  SELECT md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp
  FROM documents WHERE doc_id % 10 <> 0
),
exact_hit AS (SELECT DISTINCT n.doc_id FROM newdocs n JOIN idx i USING (fp)),
near_hit AS (
  SELECT DISTINCT a.doc_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
)
SELECT n.doc_id,
       e.doc_id IS NOT NULL AS exact_dup,
       h.doc_id IS NOT NULL AS near_dup
FROM newdocs n
LEFT JOIN exact_hit e ON e.doc_id = n.doc_id
LEFT JOIN near_hit h ON h.doc_id = n.doc_id
ORDER BY n.doc_id
""",
    group="llm-dedup",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production steady state: a new batch (here
    every 10th doc) checked against the already-ingested index without
    re-deduplicating the index.  Exact check = canonical content hash
    (q_dedup_exact's fingerprint) semi-matched against the index; near
    check = the batch's LSH band keys probed against the index's bands.

    The scale shape: the index's fingerprints and band keys are written
    once at ingest (here recomputed — same per-doc expressions); each new
    batch only hashes ITS docs and runs two hash joins keyed by
    fingerprint/band — cost is O(batch + matched buckets), never
    O(index²).  The batch side is typically small enough to broadcast;
    when it is not, the persisted index is bucketed by the probe keys so
    the big side never reshuffles per batch — a real, plan-asserted code
    path: :func:`dedup_index_tables` (tests/test_scale_paths.py)."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary"))
    fps = d.select("doc_id", fp.alias("fp"))
    new_fps = fps.where(is_new)
    idx_fps = fps.where(~is_new).select("fp")
    exact_hit = new_fps.join(idx_fps, "fp", "left_semi").select("doc_id").distinct()

    bands = lsh_bands(d)
    band_new = bands.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    band_idx = bands.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0).select("band_id", "band_key")
    near_hit = (
        band_new.join(band_idx, ["band_id", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
    )

    return (
        new_fps.select("doc_id")
        .join(exact_hit.withColumn("_e", F.lit(True)), "doc_id", "left")
        .join(near_hit.withColumn("_n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_e"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("_n"), F.lit(False)).alias("near_dup"),
        )
        .orderBy("doc_id")
    )


#: bucket layout of the persisted dedup index (write-time contract; at
#: 100 TB this is sized so one bucket ≈ one comfortable task input)
INDEX_BUCKETS = 8


def dedup_index_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Persist the incremental-dedup index the way the 100 TB steady state
    ingests it (VERDICT r4 #4b): fingerprints bucketed+sorted by ``fp``,
    band keys bucketed by ``(band_id, band_key)``.  Bucketing is a
    write-time contract — the probe joins of each new batch then read
    co-located index buckets with NO exchange on the index side (the big
    side: everything ever ingested); only the batch shuffles into the
    bucket layout.  Written once per (process, sf_dir); mirrors
    ``q_join_bucketed``'s asserted shape (relational_ext.py).
    """
    import os

    tag = f"{abs(hash(sf_dir)) % 10**8}"
    names = (f"ang_dedup_fp_{tag}", f"ang_dedup_band_{tag}")

    d = load_table(spark, sf_dir, "documents", fanout=True)
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary"))
    idx_fps = d.where(~is_new).select("doc_id", fp.alias("fp"))
    idx_bands = lsh_bands(d).where(F.pmod(F.col("doc_id"), F.lit(10)) != 0).select(
        "doc_id", "band_id", "band_key"
    )
    specs = (
        (names[0], idx_fps, ("fp",)),
        (names[1], idx_bands, ("band_id", "band_key")),
    )
    for name, df, keys in specs:
        if not spark.catalog.tableExists(name):
            (
                df.write.mode("overwrite")
                .option("path", os.path.join(scratch_dir("anglerfish_dedup_idx_"), name))
                .bucketBy(INDEX_BUCKETS, *keys)
                .sortBy(*keys)
                .saveAsTable(name)
            )
    return names


def dedup_index_compact(
    spark: SparkSession,
    fp_table: str,
    band_table: str,
    tombstone_table: str | None = None,
    tombstones: DataFrame | None = None,
) -> None:
    """Physically fold takedown tombstones into the persisted dedup index
    (VERDICT r11 #5) — the fp/band mirror of
    ``text.inverted_index_compact``: between compactions, probes retire
    deleted docs with a broadcast anti-join against the tombstone table;
    the fold makes that retirement PHYSICAL so tombstones stop
    accumulating and probes pass ``tombstones=None`` again.

    One pass over the INDEX ARTIFACTS (the corpus is never read): each
    table drops its tombstoned rows with one broadcast anti-join and is
    rewritten in the IDENTICAL bucket layout (``bucketBy(INDEX_BUCKETS,
    probe keys)`` + sortBy — plan-asserted in tests/test_takedown.py, so
    the zero-exchange index side of every probe survives the fold);
    ``tombstone_table`` is then truncated.  Probe results are pinned
    across the fold: a doc the anti-join retired is now absent from the
    files, nothing else changes.

    Pass EITHER ``tombstone_table`` (truncated after the fold) or a
    ``tombstones`` DataFrame (when the tombstones live in a table shared
    with other index families — e.g. the inverted index's ``{name}_ts``
    — truncate it only after the LAST family folds).

    100 TB shape: cost is O(index) — it IS the compaction, scheduled by
    tombstone growth exactly like fragment growth schedules the inverted
    index's fold; day-to-day deletions stay O(deleted batch)."""
    import os
    import uuid

    root = scratch_dir("anglerfish_dedup_idx_")
    if tombstones is None:
        if tombstone_table is None:
            raise ValueError("need tombstone_table or tombstones")
        tombstones = spark.table(tombstone_table)
    ts = tombstones.select("doc_id").distinct().localCheckpoint(eager=True)
    for name, keys in ((fp_table, ("fp",)), (band_table, ("band_id", "band_key"))):
        live = (
            spark.table(name)
            .join(F.broadcast(ts), "doc_id", "left_anti")
            .localCheckpoint(eager=True)  # break lineage before overwrite
        )
        (
            live.write.mode("overwrite")
            .option("path", os.path.join(root, f"{name}_{uuid.uuid4().hex[:8]}"))
            .bucketBy(INDEX_BUCKETS, *keys)
            .sortBy(*keys)
            .saveAsTable(name)
        )
    if tombstone_table is not None:
        empty = spark.table(tombstone_table).limit(0).localCheckpoint(eager=True)
        empty.write.mode("overwrite").option(
            "path",
            os.path.join(root, f"{tombstone_table}_{uuid.uuid4().hex[:8]}"),
        ).saveAsTable(tombstone_table)


# ---------------------------------------------------------------------------
# triangle counting over the near-dup graph
# ---------------------------------------------------------------------------


@query(
    "q_dedup_triangles",
    oracle=f"""
WITH {_PAIRS_CTE},
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
pernode AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM pernode GROUP BY doc_id
ORDER BY doc_id
""",
    group="llm-dedup",
)
def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the LSH candidate graph — the local
    clustering signal that separates tight duplicate cliques (every pair
    near-identical → keep one representative) from hub-and-spoke false
    positives (one template shared by many unrelated docs → keep all).

    The distributed-graph shape: edges are stored once with ``a < b``, so
    each triangle {{a<b<c}} is found exactly once by two equi-joins
    (wedge a-b, b-c closed by a-c).  At 100 TB the standard refinement is
    degree ordering (orient edges low→high degree) so every join fans out
    by the SMALLER endpoint's degree — the shape here is already the
    oriented join; both joins key on node ids and AQE handles hub skew.
    """
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    e = lsh_candidate_pairs(d)  # doc_a < doc_b, distinct
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    # one explode, NOT a union of three projections: AQE's runtime reuse
    # covers exchanges only, so a 3-way union re-ran the two triangle
    # JOINS three times (measured 6.6 s → 1.6 s at sf0.1 from this line)
    pernode = tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
    return (
        pernode.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then prune within clusters)
# ---------------------------------------------------------------------------

SEMDEDUP_K = 32  # coarse clusters (centroids = vec_id < K; the paper scales K to hold cell sizes constant - 8 left ~250-vector cells and a 255k-pair quadratic at sf0.1, 32 holds ~63 and ~16k)
#: target mean cell population of the COMPOSED curation pipeline's
#: semantic stage (VERDICT r11 #7): its centroid count scales with the
#: corpus — K = max(SEMDEDUP_K, ceil(N / this)) — so within-cell pair
#: work grows LINEARLY with N (K cells × bounded-cell² ≈ N × target),
#: not quadratically as a fixed K would; engine and oracle compute the
#: same K from the same corpus count
CURATION_CELL_TARGET = 64


def _curation_sem_k_sql() -> str:
    """The corpus-scaled centroid count as a DuckDB scalar subquery."""
    return (
        f"(SELECT GREATEST({SEMDEDUP_K}, CAST(CEIL(COUNT(*) / "
        f"{CURATION_CELL_TARGET}.0) AS BIGINT)) FROM embeddings)"
    )
SEMDEDUP_TAU = 0.99  # within-cluster cosine above which the pair is semantic-dup


@query(
    "q_dedup_semantic",
    oracle=f"""
WITH aug AS (
  SELECT vec_id + 10000 AS vec_id, {{aug_emb}} AS emb
  FROM embeddings WHERE vec_id < {N_PERTURB}
),
corpus AS (
  SELECT vec_id, {{dbl_emb}} AS emb FROM embeddings
  UNION ALL SELECT vec_id, emb FROM aug
),
c AS (SELECT vec_id AS cell_id, {{dbl_emb}} AS ce
      FROM embeddings WHERE vec_id < {SEMDEDUP_K}),
scored AS (
  SELECT x.vec_id, x.emb, c.cell_id, {{cos_cc}} AS cscore
  FROM corpus x CROSS JOIN c
),
assigned AS (
  SELECT vec_id, emb, cell_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cscore DESC, cell_id) AS rn
  FROM scored
),
cells AS (SELECT vec_id, emb, cell_id FROM assigned WHERE rn = 1),
dup_pairs AS (
  SELECT a.cell_id, a.vec_id AS dominator, b.vec_id AS removed,
         {{cos_ab}} AS score,
         ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY a.vec_id) AS pick
  FROM cells a JOIN cells b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {{cos_ab}} >= {SEMDEDUP_TAU}
)
SELECT cell_id, removed, dominator, score
FROM dup_pairs WHERE pick = 1
ORDER BY removed
""".format(
        aug_emb=_AUG_EMB_SQL,
        dbl_emb=_DBL_EMB_SQL,
        cos_cc=cosine_sql("x.emb", "c.ce"),
        cos_ab=cosine_sql("a.emb", "b.emb"),
    ),
    group="llm-dedup",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus coarsely, then prune
    near-identical vectors *within* each cluster — the cross-cluster pairs
    the clustering separates are never scored, which is the whole point:
    the quadratic term is bounded by cluster size, not corpus size.

    Semantics here: centroids are the ``vec_id < K`` vectors (the same
    deterministic coarse quantizer the IVF index uses); every vector —
    including the planted perturbed near-copies, same fixture as
    ``q_dedup_embedding`` — is assigned to its max-cosine centroid, and
    within a cell a vector is REMOVED when any lower-``vec_id`` cell-mate
    has cosine >= tau, reported with its first (smallest-id) dominator.
    One-pass priority pruning is the order-free distributed relaxation of
    the paper's sequential greedy scan: a removed vector can still
    dominate (chains prune harder than greedy, never softer), and the
    output is independent of partitioning and visit order — which the
    sequential version is not.

    Scale shape: assignment is a broadcast join against K metadata-scale
    centroids (the corpus never shuffles for it); the prune is an
    equi-join keyed by ``cell_id``, cost sum-of-cell^2.  At 100 TB, K
    grows with the corpus (the paper uses ~100k clusters) to hold cell
    sizes ~1e4, and the per-cell work stays constant — plus the cells are
    the unit of partition pruning if the assigned corpus is persisted
    partitioned by cell.
    """
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x.cast("double") + F.lit(0.05)).otherwise(
            x.cast("double")
        ),
    )
    corpus = e.select("vec_id", as_double.alias("emb")).unionByName(
        e.where(F.col("vec_id") < N_PERTURB).select(
            (F.col("vec_id") + 10000).alias("vec_id"), perturbed.alias("emb")
        )
    )
    cents = e.where(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("cell_id"), as_double.alias("ce")
    )
    from pyspark.sql import Window

    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), "cell_id")
    # per-vector norm precomputed ONCE: the pair loop then costs one dot
    # product instead of three.  dot/(na*nb) with na=sqrt(dot(a,a)) is the
    # same float operations in the same order as the inline cosine, so the
    # oracle (which spells cosine out) stays bit-identical — this is a
    # Spark-side-only optimization (measured 3x on the pair stage).
    from .similarity import dot
    cells = (
        corpus.crossJoin(F.broadcast(cents))
        .select("vec_id", "emb", "cell_id", cosine(F.col("emb"), F.col("ce")).alias("cscore"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "emb", "cell_id", F.sqrt(dot(F.col("emb"), F.col("emb"))).alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cell_id").alias("cell_id"),
            F.col("a.vec_id").alias("dominator"),
            F.col("b.vec_id").alias("removed"),
            (dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.n") * F.col("b.n"))).alias("score"),
        )
        .where(F.col("score") >= SEMDEDUP_TAU)
    )
    w_pick = Window.partitionBy("removed").orderBy("dominator")
    return (
        pairs.withColumn("pick", F.row_number().over(w_pick))
        .where(F.col("pick") == 1)
        .select("cell_id", "removed", "dominator", "score")
        .orderBy("removed")
    )


# ---------------------------------------------------------------------------
# exact repeated-substring detection (ExactSubstr-style, Lee et al. 2022)
# ---------------------------------------------------------------------------

SUBSTR_N = 8  # tokens per gram: spans of >= N shared tokens are "repeated"
SUBSTR_MIN_OCCURS = 2  # a gram occurring this often anywhere is repeated


def word_ngrams(tok: Column, n: int) -> Column:
    """Positional word n-grams (NOT distinct — positions matter for span
    merging).  Linear construction: n shifted slices folded with n-1
    ``zip_with`` concats, same O(tokens) trick as :func:`shingles` —
    never ``transform(sequence, i -> slice(...))``, which is O(tokens²).
    Empty when the document is shorter than n tokens."""
    m = F.size(tok) - (n - 1)
    grams = F.slice(tok, 1, m)
    for k in range(2, n + 1):
        grams = F.zip_with(
            grams, F.slice(tok, k, m), lambda acc, x: F.concat_ws(" ", acc, x)
        )
    return F.when(F.size(tok) >= n, grams).otherwise(F.array().cast("array<string>"))


def gram_hashes(tok: Column, n: int) -> Column:
    """Positional n-gram KEYS as 64-bit rolling hashes — Arrow-vectorized.

    The ExactSubstr pipelines never look at gram *text*: both the query
    output and the oracle aggregate positions/counts, so the gram column
    only has to be a deterministic, collision-negligible grouping key.
    Building the strings via :func:`word_ngrams` is the hot stage of the
    substring pipelines (interpreted zip_with concats, ~400 us per doc —
    measured 2.1 s of the 3.1 s query at sf0.1; above the SCALE.md #19
    vectorization threshold, and the input is corpus-cardinality, not
    pair-expanded).  Here token hashes come from pandas' fixed-key
    siphash (``pd.util.hash_array``, process-stable) and combine
    positionally with an FNV-prime polynomial in uint64 (wrap-around mod
    2^64): one vectorized multiply-add per offset, O(n) passes per doc.
    64-bit keys over ~10^6-10^8 grams put collision odds at ~1e-7;
    deterministic, so a pass is a pass on every partitioning.

    Batched across the WHOLE Arrow batch (r13-opt, guide §4.2): all
    docs' tokens concatenate into one object array, ONE ``hash_array``
    call hashes them, and the rolling polynomial runs as n global
    shifted multiply-adds; per-doc output slices keep only windows that
    stay inside their doc (positions within n-1 of a doc boundary
    compute garbage that is simply never selected).  Bit-identical to
    the per-doc form — siphash is elementwise and the polynomial is the
    same addend order (pinned in tests/test_dedup.py::
    TestGramHashesBatchedR13Opt); measured 148 -> 9.7 us/doc on the
    sf0.1 corpus (the per-doc ``hash_array`` call overhead dominated)."""

    @F.pandas_udf("array<long>")
    def gh(toks: pd.Series) -> pd.Series:
        prime = np.uint64(1099511628211)
        lists = [t if t is not None else [] for t in toks]
        lens = [len(t) for t in lists]
        total = sum(lens)
        if total == 0:
            return pd.Series([[] for _ in lists])
        flat = np.empty(total, dtype=object)
        pos = 0
        for t in lists:
            if len(t):
                flat[pos : pos + len(t)] = t
                pos += len(t)
        h = pd.util.hash_array(flat).astype(np.uint64)
        M = total - (n - 1)
        gl = None
        if M > 0:
            g = np.zeros(M, dtype=np.uint64)
            for j in range(n):
                g = g * prime + h[j : j + M]
            gl = g.view(np.int64)
        out = []
        start = 0
        for length in lens:
            m = length - (n - 1)
            out.append(gl[start : start + m].tolist() if m > 0 else [])
            start += length
        return pd.Series(out)

    return gh(tok)


def assign_cells_batch(
    emb: Column, cent_rows: list[tuple[int, list[float]]]
) -> Column:
    """``struct<cell_id:int, n:double>`` — nearest-centroid assignment +
    own-norm, Arrow-vectorized (r14-opt, guide §4.2), bit-identical to
    the ``crossJoin(broadcast(cents)) → cosine → row_number`` expression
    form it replaces in the curation pipeline:

    * every dot accumulates ``acc = acc + x_i * y_i`` SEQUENTIALLY over
      dimensions (one numpy rank-1 update per dim, vectorized across
      rows×centroids) — the exact float-op order of
      :func:`similarity.dot`, the ``lsh_signature_batch`` precedent;
    * the score is ``dot / (n_emb * n_cent)`` with both norms'
      ``sqrt(dot(x,x))`` folded the same way — identical to
      :func:`similarity.cosine`'s ``dot/(sqrt·sqrt)``;
    * the winner is the FIRST maximum over centroids sorted by cell_id —
      ``row_number over (cscore DESC, cell_id ASC)``'s pick;
    * a NULL embedding yields (smallest cell_id, NULL n) — what the
      window form produces when every cscore is NULL;
    * a ZERO-norm embedding or centroid RAISES, matching the engine's
      ANSI posture (the expression form raises DIVIDE_BY_ZERO on the
      cosine divide; silently emitting NaN would hide it).

    Pinned by tests/test_dedup.py::TestAssignCellsBatchR14Opt against
    the expression form over the real corpus and tie/zero/null edges.
    Replaces a |survivors| × K row expansion + interpreted cosine folds
    + one window exchange with a single Arrow map pass."""
    cent_rows = sorted(cent_rows)
    cent_ids = np.array([c for c, _ in cent_rows], dtype=np.int32)
    C = np.array([v for _, v in cent_rows], dtype=np.float64)  # (K, dim)
    accC = np.zeros(len(cent_rows), dtype=np.float64)
    for i in range(C.shape[1]):
        accC += C[:, i] * C[:, i]
    cn = np.sqrt(accC)  # (K,)

    @F.pandas_udf("struct<cell_id:int, n:double>")
    def assign(v: pd.Series) -> pd.DataFrame:
        k = len(v)
        cells = np.full(k, cent_ids[0] if len(cent_ids) else 0, dtype=np.int32)
        norms: list = [None] * k
        mask = v.notna().to_numpy()
        if mask.any():
            X = np.stack(v.to_numpy()[mask]).astype(np.float64)  # (m, dim)
            accD = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
            accN = np.zeros(X.shape[0], dtype=np.float64)
            for i in range(X.shape[1]):
                xi = X[:, i]
                accD += xi[:, None] * C[:, i]
                accN += xi * xi
            n = np.sqrt(accN)
            denom = n[:, None] * cn[None, :]
            if not denom.all():
                raise ArithmeticError(
                    "Division by zero in cell assignment: zero-norm "
                    "embedding or centroid (ANSI cosine would raise "
                    "DIVIDE_BY_ZERO)"
                )
            scores = accD / denom
            cells[mask] = cent_ids[np.argmax(scores, axis=1)]
            for j, val in zip(np.flatnonzero(mask), n):
                norms[j] = float(val)
        return pd.DataFrame({"cell_id": cells, "n": pd.Series(norms, dtype="object")})

    return assign(emb)


@query(
    "q_dedup_substrings",
    oracle=f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
glist AS (
  SELECT doc_id,
         [{{'pos': i,
            'g': md5(array_to_string(list_slice(t, i, i + {SUBSTR_N - 1}), ' '))}}
          for i in generate_series(1, len(t) - {SUBSTR_N - 1})] AS gs
  FROM toks
),
grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g
  FROM (SELECT doc_id, unnest(gs) AS u FROM glist)
),
rep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= {SUBSTR_MIN_OCCURS}),
spans AS (
  SELECT doc_id, pos AS s, pos + {SUBSTR_N - 1} AS e
  FROM grams JOIN rep USING (g)
),
islands AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM spans
),
grouped AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM islands
),
merged AS (
  SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS covered
  FROM grouped GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(covered) AS BIGINT) AS tokens_covered
FROM merged GROUP BY doc_id
ORDER BY doc_id
""",
    group="llm-dedup",
)
def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection — the token-level complement of
    document-level dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499: their ExactSubstr
    removes any >= 50-token span occurring verbatim more than once; the
    span length here is {SUBSTR_N} to suit the short synthetic docs).

    The paper builds a corpus-wide suffix array — inherently sequential.
    The distributed re-expression: positional token n-grams (a repeated
    span of length L >= n is exactly a run of L-n+1 repeated n-grams, so
    n-gram granularity loses nothing), one combinable count to find grams
    occurring >= {SUBSTR_MIN_OCCURS} times anywhere (including within one
    document — self-repetition is repetition), a join-back to positions,
    and per-document island-merging of overlapping spans with one running
    ``MAX(end)`` window.  Output per affected document: merged span count
    and tokens covered — the removal mask of the paper, summarized.

    Scale shape: gram construction is map-side and linear (slices +
    ``zip_with`` folds); md5 keys shrink the gram shuffle to 32 bytes
    regardless of n; the occurrence count is a combinable hash agg; the
    join-back is an equi-join on the hash; the window partitions by
    doc_id (bounded by document length).  No suffix array, no global
    sort, no driver-side state — every stage is a standard shuffle whose
    keys are uniform by construction (md5) except doc_id, which is
    bounded by the longest document, not the corpus.
    """
    prepare(spark)
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", fanout=True)
    grams = (
        d.select("doc_id", gram_hashes(tokens(), SUBSTR_N).alias("gs"))
        .select("doc_id", F.posexplode("gs").alias("pos0", "g"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )
    # occurrence count as a window over the gram relation itself (same
    # lesson as q_tfidf's df): a separate count-aggregate joined back
    # builds the posexplode+md5 lineage on two plan branches Catalyst
    # does not reuse; the window partitions by the same key the join
    # would have shuffled on, so skew exposure is unchanged
    w_gram = Window.partitionBy("g")
    spans = (
        grams.withColumn("n", F.count(F.lit(1)).over(w_gram))
        .where(F.col("n") >= SUBSTR_MIN_OCCURS)
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + (SUBSTR_N - 1)).alias("e"))
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    merged = (
        spans.withColumn(
            "new_island",
            F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1, 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("covered"))
    )
    return (
        merged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("covered").cast("bigint").alias("tokens_covered"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# the full curation pipeline: exact -> LSH(capped) -> SemDeDup -> ExactSubstr
# ---------------------------------------------------------------------------

#: semantic-stage threshold for the composed pipeline.  The synthetic
#: embeddings carry no planted near-copies on the documents' id space
#: (natural within-cell max cosine ~0.49 at sf0.01), so the composed run
#: uses an aggressive tau — the knob a curator turns — to exercise the
#: stage; the standalone q_dedup_semantic keeps the paper's 0.99 against
#: its planted fixtures.
CURATION_SEM_TAU = 0.45


def _curation_oracle() -> str:
    from .similarity import cosine_sql

    sig_cols = ", ".join(
        f"MIN(substring(md5('{'a' if i < 4 else 'b'}|' || s), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(N_MINHASH)
    )
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, h{2*b} || h{2*b+1} AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, len({TOKENS_SQL}) AS n_tok,
         md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp
  FROM documents
),
s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM base),
exact_removed AS (SELECT doc_id FROM s1 WHERE rn > 1),
surv1 AS (SELECT doc_id FROM s1 WHERE rn = 1),
sh AS (
  SELECT d.doc_id, unnest({_SHINGLES_SQL}) AS s
  FROM documents d JOIN surv1 USING (doc_id)
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({bands_union}),
near_removed AS (
  SELECT DISTINCT b.doc_id
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
surv2 AS (SELECT doc_id FROM surv1 WHERE doc_id NOT IN (SELECT doc_id FROM near_removed)),
cents AS (SELECT vec_id AS cell_id, embedding AS ce FROM embeddings
          WHERE vec_id < {_curation_sem_k_sql()}),
assign AS (
  SELECT e.vec_id, e.embedding AS emb, c.cell_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {cosine_sql('e.embedding', 'c.ce')} DESC, c.cell_id) AS crn
  FROM embeddings e JOIN surv2 s ON e.vec_id = s.doc_id
  CROSS JOIN cents c
),
cells AS (SELECT vec_id, emb, cell_id FROM assign WHERE crn = 1),
sem_removed AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM cells a JOIN cells b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {cosine_sql('a.emb', 'b.emb')} >= {CURATION_SEM_TAU}
),
surv3 AS (SELECT doc_id FROM surv2 WHERE doc_id NOT IN (SELECT doc_id FROM sem_removed)),
toks3 AS (
  SELECT d.doc_id, {TOKENS_SQL} AS t FROM documents d JOIN surv3 USING (doc_id)
),
glist AS (
  SELECT doc_id,
         [{{'pos': i,
            'g': md5(array_to_string(list_slice(t, i, i + {SUBSTR_N - 1}), ' '))}}
          for i in generate_series(1, len(t) - {SUBSTR_N - 1})] AS gs
  FROM toks3
),
grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g
  FROM (SELECT doc_id, unnest(gs) AS u FROM glist)
),
rep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= {SUBSTR_MIN_OCCURS}),
spans AS (
  SELECT doc_id, pos AS s, pos + {SUBSTR_N - 1} AS e
  FROM grams JOIN rep USING (g)
),
islands AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM spans
),
grouped AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM islands
),
covered AS (
  SELECT doc_id, SUM(cov) AS c
  FROM (SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS cov
        FROM grouped GROUP BY doc_id, island)
  GROUP BY doc_id
),
ledger AS (
  SELECT b.doc_id, b.n_tok,
         CASE WHEN er.doc_id IS NOT NULL THEN 1
              WHEN nr.doc_id IS NOT NULL THEN 2
              WHEN sr.doc_id IS NOT NULL THEN 3
              WHEN cv.c IS NOT NULL AND 2 * cv.c >= b.n_tok THEN 4
         END AS removed_stage,
         CASE WHEN er.doc_id IS NULL AND nr.doc_id IS NULL AND sr.doc_id IS NULL
                   AND cv.c IS NOT NULL AND 2 * cv.c < b.n_tok
              THEN cv.c ELSE 0 END AS trimmed
  FROM base b
  LEFT JOIN exact_removed er ON er.doc_id = b.doc_id
  LEFT JOIN near_removed nr ON nr.doc_id = b.doc_id
  LEFT JOIN sem_removed sr ON sr.doc_id = b.doc_id
  LEFT JOIN covered cv ON cv.doc_id = b.doc_id
),
m AS (
  SELECT COUNT(*) AS n_total, SUM(n_tok) AS t_total,
         COUNT(*) FILTER (removed_stage = 1) AS d1,
         COALESCE(SUM(n_tok) FILTER (removed_stage = 1), 0) AS t1,
         COUNT(*) FILTER (removed_stage = 2) AS d2,
         COALESCE(SUM(n_tok) FILTER (removed_stage = 2), 0) AS t2,
         COUNT(*) FILTER (removed_stage = 3) AS d3,
         COALESCE(SUM(n_tok) FILTER (removed_stage = 3), 0) AS t3,
         COUNT(*) FILTER (removed_stage = 4) AS d4,
         COALESCE(SUM(n_tok) FILTER (removed_stage = 4), 0) + SUM(trimmed) AS t4
  FROM ledger
)
SELECT stage,
       CAST(docs_removed AS BIGINT) AS docs_removed,
       CAST(tokens_removed AS BIGINT) AS tokens_removed,
       CAST(docs_remaining AS BIGINT) AS docs_remaining,
       CAST(tokens_remaining AS BIGINT) AS tokens_remaining
FROM (
  SELECT '0_input' AS stage, 0 AS docs_removed, 0 AS tokens_removed,
         n_total AS docs_remaining, t_total AS tokens_remaining FROM m
  UNION ALL SELECT '1_exact', d1, t1, n_total - d1, t_total - t1 FROM m
  UNION ALL SELECT '2_near', d2, t2, n_total - d1 - d2, t_total - t1 - t2 FROM m
  UNION ALL SELECT '3_semantic', d3, t3, n_total - d1 - d2 - d3,
                   t_total - t1 - t2 - t3 FROM m
  UNION ALL SELECT '4_substr', d4, t4, n_total - d1 - d2 - d3 - d4,
                   t_total - t1 - t2 - t3 - t4 FROM m
)
ORDER BY stage
"""


@query("q_curation_full", oracle=_curation_oracle(), group="llm-dedup")
def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation run a real 100 TB cleanup executes, with
    per-stage removal accounting (VERDICT r4 #6): exact dedup →
    MinHash-LSH near-dedup (skew-capped band join) → SemDeDup semantic
    prune → ExactSubstr repeated-span trimming, each stage consuming the
    previous stage's SURVIVORS — the stage interactions (a doc exact-
    removed never reaches the LSH join; substring trimming only counts
    tokens on docs that survived all document-level stages) are exactly
    what the standalone queries cannot see.

    Removal rules are each stage's order-free relaxation (remove the
    higher doc_id of a qualifying pair), so the composition stays
    partition/visit-order independent end to end.  Substr stage: a
    surviving doc loses its repeated-span tokens; a doc that is mostly
    repetition (2*covered >= n_tok) is dropped whole.

    Output: one row per stage — docs_removed, tokens_removed, and the
    running remaining counts; `0_input` anchors the totals.

    Scale shape / shuffle budget (SCALE.md r5): exact = one window by fp;
    LSH = map-side signatures + one capped band-join exchange (the
    survivor filter rides the same scan); semantic = broadcast centroid
    assign + one cell-keyed self-join of survivors only; substr = one
    gram-keyed window + one doc-keyed window over survivor grams.  Each
    stage's join input shrinks monotonically — the composed plan never
    re-shuffles a removed document.
    """
    prepare(spark)
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", fanout=True)
    tok = tokens()
    base = d.select(
        "doc_id",
        F.size(tok).cast("bigint").alias("n_tok"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tok))).cast("binary")).alias("fp"),
    )
    # every removed/survivor set below is referenced by at least two
    # downstream branches (the next stage AND the final ledger), and
    # Catalyst does not reuse non-exchange subtrees across branches
    # (SCALE.md #9) — without truncation the LSH and semantic pipelines
    # re-execute once per reference.  The sets are doc_id lists
    # (corpus-cardinality keys, bytes per row), so lazy localCheckpoints
    # are effectively free: with the norm-precompute below, measured
    # 9.1 -> 7.0 s at sf0.1 (quiet session, min-of-4).
    # Each stage's wall time lands in memo.STAGE_SECONDS["curation"] so
    # a regression points at a stage, not the composite.
    STAGE_SECONDS.pop("curation", None)

    def ckpt(df, stage):
        # EAGER always (r13-opt): with lazy checkpoints the whole
        # pipeline collapses into one action in which Catalyst/AQE
        # cannot reuse a checkpoint that materializes mid-job, so every
        # multiply-referenced stage output re-ran its lineage anyway —
        # measured 8.2 s lazy vs 6.6 s eager at sf0.1 on this shape.
        with timed("curation", stage):
            return df.localCheckpoint(eager=True)

    # ONE tokenize+fingerprint pass, ONE fp-window pass, and ONE eager
    # checkpoint for the whole exact stage (r14-opt merge): the ranked
    # base materializes (doc_id, n_tok, rn) in a single job and every
    # consumer — removed1, surv1, and the final ledger — filters the
    # checkpointed rows.  The previous shape checkpointed base and s1
    # SEPARATELY (two sequential eager jobs, plus the fat 32-char fp
    # column materialized in base for nothing downstream); before that,
    # removed1/surv1 were separate lazy checkpoints whose lineages each
    # re-ran tokenize+md5+window (guide §2.4 / §1.2: don't recompute —
    # or re-schedule — what a cheap materialized proxy already holds).
    # Merged A/B (8 alternating in-session pairs at sf0.1, with the
    # 2_near merge below): 4.34 -> 4.07 s median, identical output at
    # sf0.01 AND sf0.1.
    base = ckpt(
        base.withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        ).select("doc_id", "n_tok", "rn"),
        "1_exact",
    )
    s1 = base
    removed1 = s1.where(F.col("rn") > 1).select("doc_id")
    surv1 = s1.where(F.col("rn") == 1).select("doc_id")

    d1 = d.join(surv1, "doc_id", "left_semi")
    # one flagged checkpoint instead of two sequential ones (r14-opt
    # merge): every LSH candidate doc_b comes from d1, which is already
    # surv1-filtered, so removed2 ⊆ surv1 — a left join flags exactly
    # the removed set and the where-splits replace the separate
    # removed2 checkpoint + surv2 anti-join checkpoint (same rows
    # materialized once, one fewer eager job + one fewer join).
    s2 = ckpt(
        surv1.join(
            lsh_candidate_pairs(d1)  # skew cap active (LSH_MAX_BUCKET)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("_r2", F.lit(True)),
            "doc_id",
            "left",
        ),
        "2_near",
    )
    removed2 = s2.where(F.col("_r2")).select("doc_id")
    surv2 = s2.where(F.col("_r2").isNull()).select("doc_id")

    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # corpus-scaled centroid count (VERDICT r11 #7): holds mean cell
    # population ≈ CURATION_CELL_TARGET, so the within-cell pair join is
    # K × cell² ≈ N × target — linear in corpus size; the count is one
    # parquet-metadata read, and the oracle computes the SAME K with a
    # scalar subquery (at sf ≤ 0.1 it equals the old fixed SEMDEDUP_K)
    import math

    from ..sources.registry import table_row_count

    # footer num_rows == count() exactly; zero Spark jobs (r14-opt)
    sem_k = max(
        SEMDEDUP_K,
        math.ceil(table_row_count(spark, sf_dir, "embeddings") / CURATION_CELL_TARGET),
    )
    # centroids collected once (K rows, the metadata-scale quantizer —
    # the same rows the old shape broadcast into a crossJoin); the
    # Arrow-batched assignment then replaces a |survivors| × K row
    # expansion + interpreted cosine folds + the assignment window's
    # exchange with ONE map pass, bit-identical by fold order
    # (assign_cells_batch docstring; r14-opt, guide §4.2 + §2.4)
    cent_rows = [
        (int(r["cell_id"]), [float(x) for x in r["ce"]])
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < sem_k)
        .select(F.col("vec_id").alias("cell_id"), F.col("embedding").alias("ce"))
        .collect()
    ]
    vec2 = e.join(
        surv2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    ).select("vec_id", as_double.alias("emb"))
    # per-vector norm precomputed once: the pair loop then costs ONE
    # interpreted dot fold instead of three — dot/(na*nb) is the same
    # float ops in the same order as the inline cosine, so the oracle
    # (which spells cosine out) stays bit-identical (the
    # q_dedup_semantic precedent; measured 3x on its pair stage)
    from .similarity import dot

    cells = vec2.select(
        "vec_id", "emb", assign_cells_batch(F.col("emb"), cent_rows).alias("_a")
    ).select(
        "vec_id", "emb", F.col("_a.cell_id").alias("cell_id"), F.col("_a.n").alias("n")
    )
    # eager barrier before the cell self-join: the K-centroid broadcast
    # scoring + assignment window materializes once and both join sides
    # read the checkpointed rows.  (Standalone q_dedup_semantic keeps
    # the plain shape — AQE's runtime exchange reuse covers it there,
    # measured a wash; inside THIS eager-checkpoint pipeline the
    # combined restructure measured 3_semantic 1.37 -> 0.77 s warm.)
    cells = ckpt(cells, "3_semantic")
    a, b = cells.alias("a"), cells.alias("b")
    removed3 = ckpt(
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            # stays the INTERPRETED dot on purpose (r14-opt measured): an
            # Arrow-batched dot (bit-identical fold) ran ~2x SLOWER here
            # warm (0.32-0.37 -> 0.60-0.70 s) because it ships both
            # 64-double payloads per pair across the Python boundary,
            # while the interpreted fold keeps them in the JVM
            (dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.n") * F.col("b.n")))
            >= CURATION_SEM_TAU
        )
        .select(F.col("b.vec_id").alias("doc_id"))
        .distinct(),
        "3_semantic",
    )
    # surv3 has exactly ONE consumer (the substr stage's semi-join), so a
    # checkpoint here bought nothing: the anti-join reads two already-
    # checkpointed doc_id lists and runs once either way (r14-opt — the
    # other surv/removed sets keep their barriers because >=2 branches
    # read them)
    surv3 = surv2.join(removed3, "doc_id", "left_anti")

    d3 = d.join(surv3, "doc_id", "left_semi")
    grams = (
        d3.select("doc_id", gram_hashes(tokens(), SUBSTR_N).alias("gs"))
        .select("doc_id", F.posexplode("gs").alias("pos0", "g"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )
    w_gram = Window.partitionBy("g")
    spans = (
        grams.withColumn("n", F.count(F.lit(1)).over(w_gram))
        .where(F.col("n") >= SUBSTR_MIN_OCCURS)
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + (SUBSTR_N - 1)).alias("e"))
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    covered = (
        spans.withColumn(
            "new_island",
            F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1, 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").cast("bigint").alias("c"))
    )
    covered = ckpt(covered, "4_substr")

    led = (
        base.select("doc_id", "n_tok")
        .join(removed1.withColumn("_r1", F.lit(True)), "doc_id", "left")
        .join(removed2.withColumn("_r2", F.lit(True)), "doc_id", "left")
        .join(removed3.withColumn("_r3", F.lit(True)), "doc_id", "left")
        .join(covered, "doc_id", "left")
    )
    stage_col = (
        F.when(F.col("_r1"), 1)
        .when(F.col("_r2"), 2)
        .when(F.col("_r3"), 3)
        .when(F.col("c").isNotNull() & (2 * F.col("c") >= F.col("n_tok")), 4)
    )
    led = led.select(
        "n_tok",
        stage_col.alias("rs"),
        F.when(
            stage_col.isNull() & F.col("c").isNotNull(), F.col("c")
        ).otherwise(F.lit(0)).alias("trimmed"),
    )

    def _dsum_stage(s: int) -> Column:
        return F.coalesce(F.sum(F.when(F.col("rs") == s, F.col("n_tok"))), F.lit(0))

    m = led.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("n_tok").alias("t_total"),
        *[F.count(F.when(F.col("rs") == s, 1)).alias(f"d{s}") for s in (1, 2, 3, 4)],
        *[_dsum_stage(s).alias(f"t{s}") for s in (1, 2, 3)],
        (_dsum_stage(4) + F.sum("trimmed")).alias("t4"),
    )
    n, t = F.col("r.n_total"), F.col("r.t_total")
    d_ = [F.col(f"r.d{s}") for s in (1, 2, 3, 4)]
    t_ = [F.col(f"r.t{s}") for s in (1, 2, 3, 4)]

    def row(stage: str, dr, tr, drem, trem):
        return F.struct(
            F.lit(stage).alias("stage"),
            dr.cast("bigint").alias("docs_removed"),
            tr.cast("bigint").alias("tokens_removed"),
            drem.cast("bigint").alias("docs_remaining"),
            trem.cast("bigint").alias("tokens_remaining"),
        )

    zero = F.lit(0)
    rows = F.array(
        row("0_input", zero, zero, n, t),
        row("1_exact", d_[0], t_[0], n - d_[0], t - t_[0]),
        row("2_near", d_[1], t_[1], n - d_[0] - d_[1], t - t_[0] - t_[1]),
        row(
            "3_semantic", d_[2], t_[2],
            n - d_[0] - d_[1] - d_[2], t - t_[0] - t_[1] - t_[2],
        ),
        row(
            "4_substr", d_[3], t_[3],
            n - d_[0] - d_[1] - d_[2] - d_[3], t - t_[0] - t_[1] - t_[2] - t_[3],
        ),
    )
    return (
        m.alias("r")
        .select(F.explode(rows).alias("x"))
        .select("x.*")
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# Bloom-gated incremental dedup: the crawl steady state where most docs
# are NEW and should never touch the index join at all
# ---------------------------------------------------------------------------

#: Bloom probes per fingerprint (disjoint 8-hex slices of the fp itself —
#: the fp IS an md5, so no extra hashing)
IDX_BLOOM_K = 3

_FP_SQL = f"md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' '))"
_FP_POS_SQL = "CAST(('0x' || substring(fp, 8 * (i - 1) + 1, 8)) AS BIGINT) % m"


def _fp_pos(fp: Column, i: int, m: int) -> Column:
    return (
        F.conv(F.substring(fp, 8 * (i - 1) + 1, 8), 16, 10).cast("bigint") % m
    )


#: bits per aggregation word in the distributed Bloom build
BLOOM_WORD_BITS = 64
#: filters up to this many bits ride the plan as a BINARY literal
#: (codegen byte tests); larger filters go through the broadcast +
#: Arrow-probe path.  Tests patch it to force either path.
BLOOM_LITERAL_MAX_BITS = 1 << 20


def bloom_words_df(fps: DataFrame, m: int, k: int = IDX_BLOOM_K) -> DataFrame:
    """The distributed half of ``bloom_build`` as a DataFrame — exposed so
    tests can assert its plan shape (map-side partial ``bit_or``, word-
    rather than index-cardinality shuffle)."""
    pos = fps.select(
        F.explode(
            F.array(*[_fp_pos(F.col("fp"), i, m) for i in range(1, k + 1)])
        ).alias("p")
    )
    return pos.groupBy((F.col("p") / BLOOM_WORD_BITS).cast("bigint").alias("w")).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, {BLOOM_WORD_BITS}) AS INT))"
            )
        ).alias("bits")
    )


def bloom_build(fps: DataFrame, m: int, k: int = IDX_BLOOM_K) -> bytes:
    """Distributed Bloom-filter build over a ``fp`` column: each
    fingerprint's k positions are exploded, then OR-ed into 64-bit words
    by a hash aggregation keyed on ``p // 64`` — partial (map-side)
    ``bit_or`` per word means the shuffle carries at most ``m/64`` words
    per map partition, never index-cardinality rows, and the driver
    receives only the final ``m/64`` aggregated words (the filter
    itself), exactly as Spark's own ``bloom_filter_agg`` expression
    does.  Returns the '0'/'1'-byte bitset the probe reads."""
    # ≤ m/64 rows reach the driver — the aggregated filter, not the index
    words = bloom_words_df(fps, m, k).collect()
    assert len(words) <= m // BLOOM_WORD_BITS + 1
    buf = bytearray(b"0" * m)
    for r in words:
        wbits, base = r["bits"], r["w"] * BLOOM_WORD_BITS
        for b in range(BLOOM_WORD_BITS):
            if wbits & (1 << b):
                buf[base + b] = 0x31
    return bytes(buf)


def bloom_add(filter_bits: bytes, new_fps: DataFrame, k: int = IDX_BLOOM_K) -> bytes:
    """Incremental maintenance: OR a batch of NEW fingerprints into an
    existing filter without touching the index it summarizes — the
    steady-state ingest path (m stays fixed; growing m is a rebuild).
    ``bloom_add(f, day2) == bloom_build(index ∪ day2)`` whenever
    ``f == bloom_build(index)`` at the same m."""
    delta = bloom_build(new_fps, len(filter_bits), k)
    return bytes(max(a, b) for a, b in zip(filter_bits, delta))


def bloom_probe(spark: SparkSession, fp: Column, filter_bits: bytes,
                k: int = IDX_BLOOM_K) -> Column:
    """Membership test of a fingerprint column against a built filter.
    Small filters ride the plan as a BINARY literal and probe via O(1)
    byte tests (whole-stage codegen, SCALE.md #21); filters past
    BLOOM_LITERAL_MAX_BITS are shipped ONCE per executor as a broadcast
    variable and probed by an Arrow-batched numpy UDF — the 100 TB path,
    where a ~1.25 GB filter cannot be a task-binary literal."""
    m = len(filter_bits)
    if m <= BLOOM_LITERAL_MAX_BITS:
        # one literal Column reused across the k probes: the filter bytes
        # cross the py4j socket ONCE instead of k times (r14-opt; the JVM
        # expression tree shares the node, the plan is unchanged)
        flit = F.lit(filter_bits)
        maybe = F.lit(True)
        for i in range(1, k + 1):
            probe = F.substring(flit, (_fp_pos(fp, i, m) + 1).cast("int"), 1)
            maybe = maybe & (probe == F.lit(b"1"))
        return maybe

    bc = spark.sparkContext.broadcast(filter_bits)

    @F.pandas_udf("boolean")
    def probe(fps: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        if len(fps) == 0:
            return pd.Series(np.ones(0, dtype=bool))
        # vectorized hex parse (r13-opt, guide §4.2): the 32-hex-char
        # fingerprints become a (rows, 32) ASCII byte matrix, nibbles by
        # arithmetic (digits/lower/upper), each 8-char slice folded with
        # one matvec — 1.66 -> 0.96 us/row vs per-row int(f[...], 16),
        # identical probes (tests/test_dedup.py::TestBloomProbeHexR13Opt)
        raw = fps.to_numpy().astype("S32")
        u = raw.view(np.uint8).reshape(len(fps), -1)[:, :32].astype(np.int64)
        nib = u - 48 - (u >= 97) * 39 - ((u >= 65) & (u < 97)) * 7
        w = 16 ** np.arange(7, -1, -1, dtype=np.int64)
        res = np.ones(len(fps), dtype=bool)
        for i in range(k):
            v = nib[:, 8 * i : 8 * i + 8] @ w
            res &= bits[v % m] == 0x31
        return pd.Series(res)

    return probe(fp)


@query(
    "q_dedup_bloom_incremental",
    oracle=f"""
WITH newdocs AS (
  SELECT doc_id, {_FP_SQL} AS fp FROM documents WHERE doc_id % 10 = 0
),
idx AS (
  SELECT DISTINCT {_FP_SQL} AS fp FROM documents WHERE doc_id % 10 <> 0
),
mm AS (SELECT CAST(POWER(2, length(bin(10 * COUNT(*)))) AS BIGINT) AS m FROM idx),
bpos AS (
  SELECT DISTINCT {_FP_POS_SQL} AS p
  FROM idx, mm, generate_series(1, {IDX_BLOOM_K}) AS s(i)
),
probed AS (
  SELECT doc_id, fp,
         COUNT(*) FILTER (WHERE p IN (SELECT p FROM bpos)) = {IDX_BLOOM_K} AS maybe
  FROM (SELECT doc_id, fp, {_FP_POS_SQL} AS p
        FROM newdocs, mm, generate_series(1, {IDX_BLOOM_K}) AS s(i))
  GROUP BY doc_id, fp
)
SELECT p.doc_id,
       p.maybe AS bloom_maybe,
       i.fp IS NOT NULL AS exact_dup
FROM probed p LEFT JOIN idx i ON p.fp = i.fp
ORDER BY p.doc_id
""",
    group="llm-dedup",
)
def q_dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental dedup — the crawl steady state: before the
    batch's fingerprints ever touch the index join, they probe a Bloom
    filter of the INDEX fingerprints; bloom-negative docs are DEFINITELY
    new (the sketch's one-sided guarantee) and skip the join entirely,
    so the index join's probe side shrinks to the maybe-dup subset —
    on a fresh crawl where most docs are new, that is most of the join
    gone.  Bloom positions are disjoint 8-hex slices of the fingerprint
    itself (it is already an md5 — no extra hashing), and the filter is
    self-sized to the index (next pow2 >= 10x |index| fps, ~1.25 GB per
    1e9 docs at these parameters — the real systems' trade).

    Build stage: fully distributed — ``bloom_build`` explodes each index
    fingerprint's k positions and OR-s them into 64-bit words via a
    map-side-partial ``bit_or`` hash aggregation, so no
    index-cardinality rows ever reach the driver (the collect is the
    aggregated filter itself, ≤ m/64 words — the same contract as
    Spark's ``bloom_filter_agg``).  Steady-state ingest uses
    ``bloom_add`` to OR a day's new fingerprints into yesterday's filter
    WITHOUT touching the index (tested equal to a full rebuild).  Probe
    stage: O(1) byte tests against the BINARY bitset literal
    (SCALE.md #21) — map-only — or, past BLOOM_LITERAL_MAX_BITS, an
    Arrow-batched probe against a once-per-executor broadcast of the
    filter.  The confirmation join runs only over bloom-positive docs;
    output keeps the gate visible (``bloom_maybe``) next to ground
    truth (``exact_dup``) so the no-false-negatives contract is
    oracle-checked row by row, false positives included.
    """
    prepare(spark)
    d = load_table(spark, sf_dir, "documents", fanout=True)
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary"))
    fps = d.select("doc_id", fp.alias("fp"))
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    new_fps = fps.where(is_new)
    idx_fps = fps.where(~is_new).select("fp").distinct()
    idx_fps = idx_fps.localCheckpoint(eager=False)

    n_idx = idx_fps.count()
    # next pow2 >= 10 * |index|, mirroring the oracle's
    # POWER(2, length(bin(10 * COUNT(*)))) exactly — bin(0) is '0'
    # (length 1), so an empty index sizes to m = 2 on both engines.
    m = 1 << max((10 * n_idx).bit_length(), 1)
    bits = bloom_build(idx_fps, m)

    gated = new_fps.withColumn("bloom_maybe", bloom_probe(spark, F.col("fp"), bits))
    confirmed = (
        gated.where(F.col("bloom_maybe"))
        .join(idx_fps.withColumn("_hit", F.lit(True)), "fp", "left")
        .select("doc_id", F.col("_hit").isNotNull().alias("exact_dup"))
    )
    return (
        gated.select("doc_id", "bloom_maybe")
        .join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_maybe",
            F.coalesce(F.col("exact_dup"), F.lit(False)).alias("exact_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (r10): the crawl-pipeline front door — the
# same page arrives under case-varied hosts, default ports, tracking
# params, fragments, and trailing slashes; canonicalize FIRST, then every
# downstream dedup keys on the canonical form
# ---------------------------------------------------------------------------


def canonicalize_url(u):
    """Canonical URL form as a pure column expression (JVM-side, no
    UDF) — the steps every crawl dedup (CommonCrawl, C4) applies before
    keying, tightened per ADVICE r10 #1 / VERDICT r10 #7:

    1. drop the fragment (``#...``);
    2. lowercase;
    3. drop an explicit DEFAULT port, anchored to the authority
       component only (``:80`` for http, ``:443`` for https, and only
       when followed by ``/``, ``?``, or end-of-string — a ``:80``
       inside a path or query value is untouched);
    4. split off the query, drop every ``utm_*`` tracking param and any
       empty segment (so removals never leave a dangling ``?``/``&``),
       and SORT the surviving params (param order never distinguishes
       crawl URLs);
    5. drop the trailing slash of the path.

    Every anchored regex matches at most once, so Spark's replace-all
    and an oracle engine's replace-first agree by construction (the r10
    version relied on the synthetic corpus to hide that divergence)."""
    c = F.lower(F.regexp_replace(u, r"#.*$", ""))
    c = F.regexp_replace(c, r"^(http://[^/?]*):80([/?]|$)", r"$1$2")
    c = F.regexp_replace(c, r"^(https://[^/?]*):443([/?]|$)", r"$1$2")
    base = F.regexp_replace(F.split_part(c, F.lit("?"), F.lit(1)), r"/$", "")
    # the query is EVERYTHING after the first '?' — split_part(c,'?',2)
    # would stop at a second literal '?' inside a param value and merge
    # distinct URLs (ADVICE r11 #3)
    rawq = F.when(
        c.contains("?"), c.substr(F.instr(c, "?") + F.lit(1), F.length(c))
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(rawq, "&"),
        lambda x: (x != F.lit("")) & ~x.rlike("^utm_[a-z_]+="),
    )
    q = F.array_join(F.array_sort(params), "&")
    return F.when(q != F.lit(""), F.concat(base, F.lit("?"), q)).otherwise(base)


#: the messy-URL synthesis both engines build (one deterministic variant
#: mix per doc): case-varied host, scheme-matched default ports (https
#: every 11th doc), a portless bare-authority case (every 13th doc has no
#: path — ':80' then sits at end-of-string), utm params in first, middle,
#: and last query position (incl. followed by a non-utm param — the
#: dangling-'&' case), unordered surviving params, trailing slashes, and
#: fragments
_URL_SQL = """
         CASE WHEN doc_id % 11 = 0 THEN 'https://' ELSE 'http://' END
         || CASE WHEN doc_id % 2 = 0 THEN 'Example' ELSE 'example' END
         || CAST(doc_id % 7 AS VARCHAR) || '.com'
         || CASE WHEN doc_id % 3 = 0 THEN
              CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE ':80' END
            ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ''
            ELSE '/p/' || CAST(doc_id % 97 AS VARCHAR)
                 || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END END
         || CASE WHEN len(qp) > 0 THEN '?' || array_to_string(qp, '&') ELSE '' END
         || CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END
"""

_URL_QP_SQL = """
  list_filter([
    CASE WHEN doc_id % 5 = 0 THEN 'utm_source=feed' END,
    CASE WHEN doc_id % 9 = 0 THEN 'b=2' END,
    CASE WHEN doc_id % 8 = 0 THEN 'utm_campaign=x' END,
    CASE WHEN doc_id % 9 = 0 THEN 'a=1' END,
    CASE WHEN doc_id % 8 = 0 THEN 'ref=abc' END,
    CASE WHEN doc_id % 19 = 0 THEN 'q=what?x' END
  ], x -> x IS NOT NULL)
"""


@query(
    "q_dedup_urls",
    oracle=f"""
WITH urls AS (
  SELECT doc_id, {_URL_SQL} AS url
  FROM (SELECT doc_id, {_URL_QP_SQL} AS qp FROM documents)
),
pre AS (
  SELECT doc_id,
         REGEXP_REPLACE(REGEXP_REPLACE(
           LOWER(REGEXP_REPLACE(url, '#.*$', '')),
           '^(http://[^/?]*):80([/?]|$)', '\\1\\2'),
           '^(https://[^/?]*):443([/?]|$)', '\\1\\2') AS c
  FROM urls
),
canon AS (
  SELECT doc_id,
         REGEXP_REPLACE(SPLIT_PART(c, '?', 1), '/$', '')
         || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS curl
  FROM (
    SELECT doc_id, c,
           ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(
             STRING_SPLIT(CASE WHEN instr(c, '?') > 0
                               THEN substr(c, instr(c, '?') + 1) ELSE '' END, '&'),
             x -> x <> '' AND NOT REGEXP_MATCHES(x, '^utm_[a-z_]+='))), '&') AS q
    FROM pre
  )
)
SELECT SPLIT_PART(SPLIT_PART(curl, '?', 1), '/', 3) AS host,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM canon GROUP BY host ORDER BY host
""",
    group="llm-dedup",
)
def q_dedup_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup end-to-end: every document gets a
    deterministically MESSY url (case-varied host, scheme-matched
    default ports — http ':80' AND https ':443', including at
    end-of-authority with no path —, '/p/<doc_id%97>' path shared
    across docs, utm params in first/middle/last query position with
    non-utm params after them, unordered surviving params,
    trailing-slash / fragment variants by congruence class) and the
    engine must collapse them to canonical form — the oracle builds the
    same urls and canonicalizes with its OWN regex/list engine, so a
    canonicalizer that misses a variant, leaves a dangling '?'/'&'
    after param removal, strips ':80' outside the authority, or fails
    to order-normalize params splits or merges canonical groups and
    fails the hash (the r10 synth guaranteed utm was always the whole
    query string, hiding exactly those edges — ADVICE r10 #1).

    Scale shape: canonicalization is a handful of anchored regex +
    array column ops in one JVM stage over the scan (zero Python eval
    nodes, plan-asserted); the only shuffle is the final host rollup
    (COUNT DISTINCT canonical per host).  The wrong design — a Python
    URL-parsing UDF — is 10-100x slower and was never needed."""
    prepare(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")

    def opt(cond, s):
        return F.when(cond, F.lit(s))

    qp = F.array_compact(
        F.array(
            opt(k % 5 == 0, "utm_source=feed"),
            opt(k % 9 == 0, "b=2"),
            opt(k % 8 == 0, "utm_campaign=x"),
            opt(k % 9 == 0, "a=1"),
            opt(k % 8 == 0, "ref=abc"),
            # literal '?' inside a param value: the canonicalizer must
            # keep the query whole past it (ADVICE r11 #3)
            opt(k % 19 == 0, "q=what?x"),
        )
    )
    url = F.concat(
        F.when(k % 11 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(k % 2 == 0, F.lit("Example")).otherwise(F.lit("example")),
        (k % 7).cast("string"),
        F.lit(".com"),
        F.when(
            k % 3 == 0,
            F.when(k % 11 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.when(k % 13 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("/p/"),
                (k % 97).cast("string"),
                F.when(k % 4 == 0, F.lit("/")).otherwise(F.lit("")),
            )
        ),
        F.when(
            F.size(qp) > 0, F.concat(F.lit("?"), F.array_join(qp, "&"))
        ).otherwise(F.lit("")),
        F.when(k % 6 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    canon = d.select("doc_id", canonicalize_url(url).alias("curl"))
    # the rollup host lives in the AUTHORITY: strip the query first, or a
    # bare-authority canonical like 'http://h.com?ref=abc' leaks its query
    # into the host key (ADVICE r11 #4) — oracle applies the same split
    host = F.split_part(
        F.split_part(F.col("curl"), F.lit("?"), F.lit(1)), F.lit("/"), F.lit(3)
    )
    return (
        canon.groupBy(host.alias("host"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.count_distinct(F.col("curl")).cast("bigint").alias("n_canonical"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("host")
    )
