"""Embedding similarity search: brute-force cosine top-k (exact baseline)
and random-hyperplane LSH bucketing (the ANN scale path).

Scale design:

* **Brute force** is the correctness baseline: |Q| query vectors broadcast
  against the corpus → per-partition partial top-k via window row_number.
  Fine for small |Q|; at 100 TB corpus × many queries you need ANN.
* **LSH** assigns every vector an ``n_bits``-bit signature from fixed
  pseudo-random hyperplanes (derived from md5 in the *driver*, embedded as
  literals — deterministic across engines, no RNG at runtime).  Search cost
  drops to bucket occupancy (~corpus/2^bits per probe); buckets are a plain
  equi-join key, so the whole pipeline is one bucket join + windowed top-k,
  shuffled by signature — the IVF-style coarse quantization trade-off.

Float determinism: dot products fold element-wise left-to-right in double
precision (``F.aggregate`` in Spark, an ordered list comprehension +
``list_sum`` in DuckDB) — identical order, identical doubles.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..localdata import local_df
from ..memo import Memo, file_stamp, fresh_dir
from ..registry import query
from ..session import prepare
from ..sources.registry import load_table, read_parquet

DIM = 64
N_QUERIES = 5  # vec_id < 5 serve as query vectors
TOP_K = 5
N_BITS = 8


def dot(a: Column, b: Column) -> Column:
    """Deterministic double dot product: elementwise multiply then ordered
    left-to-right fold."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


_DOT_SQL = (
    "list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "for i in generate_series(1, {n})])"
)


def dot_sql(a: str, b: str, n: int = DIM) -> str:
    """Ordered left-to-right double dot product in DuckDB SQL.

    Full-length dots compile to ``list_inner_product`` — a native
    sequential accumulate, measured BIT-IDENTICAL to the interpreted
    comprehension on the corpus (0/2000 mismatches, r7) and ~140×
    faster (the comprehension runs one interpreter dispatch per
    element; the 96-plane banded-LSH oracle was ~37 s at sf0.01 on it).
    A custom ``n`` (prefix dot) keeps the comprehension form."""
    if n == DIM:
        return (
            f"list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        )
    return _DOT_SQL.format(a=a, b=b, n=n)


def cosine_sql(a: str, b: str, n: int = DIM) -> str:
    return f"{dot_sql(a, b, n)} / (sqrt({dot_sql(a, a, n)}) * sqrt({dot_sql(b, b, n)}))"


# ---------------------------------------------------------------------------
# top-k building blocks + the mode-picking front door
# ---------------------------------------------------------------------------

#: corpus size above which ``similarity_topk(mode="auto")`` switches from
#: exact brute force (O(|Q|·N) dot products) to LSH-bucketed ANN.  1e5
#: 64-dim vectors ≈ 6.4e6 multiplies per query — around where brute force
#: stops being "free" on one executor core; far below any 100 TB corpus.
SIMILARITY_ANN_THRESHOLD = 100_000


def _topk_ranked(cand: DataFrame, k: int) -> DataFrame:
    """Rank candidates per query (score desc, vec_id tiebreak), keep top k."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .orderBy("query_id", "rn")
    )


def exact_topk(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k: broadcast queries (query_id, qe) against the
    corpus (vec_id, label, embedding).  The accuracy baseline — cost is
    O(|Q|·N); above :data:`SIMILARITY_ANN_THRESHOLD` prefer the ANN paths
    (or let :func:`similarity_topk` pick)."""
    cand = (
        F.broadcast(queries)
        .join(corpus, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine(F.col("qe"), F.col("embedding")).alias("score"),
        )
    )
    return _topk_ranked(cand, k)


#: Multi-probe width: probe keys emitted per band on the QUERY side.
#: 1 = plain banded LSH; the query additionally probes each band's key
#: with its lowest-|projection| bit(s) flipped — the bits most likely
#: to disagree with a true neighbor across the hyperplane (Lv et al.,
#: multi-probe LSH, VLDB'07).  Probe sets in perturbation order: {},
#: {b0}, {b1}, {b0,b1} with |proj(b0)| <= |proj(b1)|.  With the 24×8
#: band shape, probes=4 measures recall@5 = 0.72/0.88 at ~33%
#: candidates (full sweep table in N_BANDS's comment / SCALE.md r8),
#: up from r7's 0.60/0.64 — CI gate raised 0.4 → 0.6
#: (tests/test_similarity.py::TestAnnRecall).  Cost: only the
#: broadcast-tiny query side fans out (|Q| × N_BANDS × probes key
#: rows); the corpus side still emits exactly N_BANDS keys per vector,
#: so the index build is unchanged.
N_PROBES_LSH = 4


def lsh_probe_keys_batch(
    vec: Column, planes: list[list[int]] | None = None, n_probes: int = N_PROBES_LSH
) -> Column:
    """Arrow-batched multi-probe band keys: ``array<string>`` of
    ``N_BANDS * n_probes`` keys, band-major (``band_id = pos / n_probes``
    after ``posexplode``).  Projections accumulate with the EXACT
    sequential arithmetic of :func:`lsh_signature_batch` (bit-identical
    signatures); flip order is (|proj|, bit-index) ascending, matching
    the DuckDB oracle's ``list_sort`` over ``{a: abs(proj), i: idx}``
    structs so ties cannot diverge across engines.  Applied to the
    QUERY side only — per-row Python over |Q| rows, not the corpus."""
    if not 1 <= n_probes <= 4:
        raise ValueError("n_probes must be in 1..4 ({}, {b0}, {b1}, {b0,b1})")
    P = np.array(planes if planes is not None else _BAND_PLANES, dtype=np.float64)

    @F.pandas_udf("array<string>")
    def probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.notna().to_numpy()
        out = np.full(len(v), None, dtype=object)
        if mask.any():
            X = np.stack(v.to_numpy()[mask]).astype(np.float64)
            acc = np.zeros((X.shape[0], P.shape[0]), dtype=np.float64)
            for i in range(P.shape[1]):
                acc += X[:, i : i + 1] * P[:, i]
            keys_per_row = []
            for r in range(acc.shape[0]):
                keys: list[str] = []
                for b in range(N_BANDS):
                    pj = acc[r, b * BAND_BITS : (b + 1) * BAND_BITS]
                    bits = pj >= 0.0
                    order = sorted(range(BAND_BITS), key=lambda i: (abs(pj[i]), i))
                    b0, b1 = order[0], order[1]
                    for flips in ((), (b0,), (b1,), (b0, b1))[:n_probes]:
                        keys.append(
                            "".join(
                                "1" if (bits[i] ^ (i in flips)) else "0"
                                for i in range(BAND_BITS)
                            )
                        )
                keys_per_row.append(keys)
            # assign list objects one-by-one: a 2-D assignment through a
            # boolean mask would try to broadcast the key matrix
            for mi, kr in zip(np.flatnonzero(mask), keys_per_row):
                out[mi] = kr
        return pd.Series(out)

    return probe(vec)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_probes: int = N_PROBES_LSH,
    rerank_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via MULTI-PROBE banded LSH (OR-construction):
    a candidate is any vector sharing at least one of the query's
    ``N_BANDS × n_probes`` probed band keys — each band contributes its
    exact key plus its lowest-|projection| bit flips
    (:data:`N_PROBES_LSH`); exact cosine ranks the candidates.  A single
    band's exact-signature match is structurally blind on
    weakly-clustered corpora (see N_BANDS) — the multi-band union is the
    recall lever and multi-probe raises it further at fixed index cost,
    CI-gated in tests/test_similarity.py::TestAnnRecall.

    Scale shape: signatures are one Arrow-batched map over each side;
    the band probe is an equi-join keyed (band_id, band_key) — never a
    cross product — only the broadcast-tiny QUERY side fans out by
    n_probes, the candidate-pair set is deduped BEFORE any embedding
    payload is attached (band rows carry ids only, so the explode ships
    16×ids, not 16×vectors), and full-dim cosine runs once per distinct
    candidate pair (candidate-fraction · N · |Q| scores; measured
    fractions per probe width in SCALE.md r8).

    ``rerank_corpus`` (r14-opt): the relation the candidate ids join
    back to for exact scoring.  Defaults to ``corpus``; pass a plain
    (un-fanned) load when ``corpus`` carries a small-input fan-out
    repartition — the rerank side is either broadcast (locally) or
    re-shuffled by the join key (at scale), so a round-robin exchange
    below it is pure cost (guide §2.4; the plan showed
    ``Exchange RoundRobin → BroadcastExchange``)."""
    if rerank_corpus is None:
        rerank_corpus = corpus
    csig = corpus.select(
        "vec_id", lsh_signature_batch(F.col("embedding"), _BAND_PLANES).alias("sig")
    )
    cb = csig.select(
        "vec_id", F.posexplode(_band_keys(F.col("sig"))).alias("band_id", "band_key")
    )
    qb = queries.select(
        "query_id",
        F.posexplode(
            lsh_probe_keys_batch(F.col("qe"), _BAND_PLANES, n_probes)
        ).alias("pos", "band_key"),
    ).select(
        "query_id", (F.col("pos") / n_probes).cast("int").alias("band_id"), "band_key"
    )
    pairs = (
        cb.join(F.broadcast(qb), ["band_id", "band_key"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    cand = (
        pairs.join(rerank_corpus, "vec_id")
        .join(F.broadcast(queries.select("query_id", "qe")), "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine(F.col("qe"), F.col("embedding")).alias("score"),
        )
    )
    return _topk_ranked(cand, k)


def similarity_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    mode: str = "auto",
    ann_threshold: int = SIMILARITY_ANN_THRESHOLD,
    corpus_size: int | None = None,
) -> DataFrame:
    """The similarity-search front door: exact brute force below
    ``ann_threshold`` corpus rows, LSH-bucketed ANN above it.

    ``mode``: ``"auto"`` (default) | ``"exact"`` | ``"ann"``.  Auto sizing
    uses ``corpus_size`` when the caller already knows it (catalog stats,
    a prior count); otherwise one ``corpus.count()`` job runs at plan time
    — at 100 TB pass the known size instead.  The exact path stays exposed
    (and oracle-checked, q_similarity_topk) as the accuracy baseline; auto
    exists so the query a naive user grabs does not silently run O(|Q|·N)
    dot products over a planet-sized corpus (VERDICT r3 weak item #1)."""
    if mode == "auto":
        n = corpus_size if corpus_size is not None else corpus.count()
        mode = "ann" if n > ann_threshold else "exact"
    if mode == "exact":
        return exact_topk(corpus, queries, k)
    if mode == "ann":
        return ann_lsh_topk(corpus, queries, k)
    raise ValueError(f"unknown mode {mode!r} (auto|exact|ann)")


# ---------------------------------------------------------------------------
# brute-force exact top-k
# ---------------------------------------------------------------------------


@query(
    "q_similarity_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         {cosine_sql('q.qe', 'e.embedding')} AS score
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id) AS rn
  FROM scored
)
SELECT query_id, vec_id, label, score, rn
FROM ranked WHERE rn <= {TOP_K}
ORDER BY query_id, rn
""",
    group="llm-similarity",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus, rank
    per query with a deterministic tiebreak.

    This is the O(|Q|·N) *accuracy baseline*, kept oracle-checked on
    purpose.  Application code should call :func:`similarity_topk` (the
    mode-picking front door) instead of reaching for this directly — above
    :data:`SIMILARITY_ANN_THRESHOLD` corpus rows auto mode switches to the
    LSH bucket join (q_similarity_ann_lsh) / IVF (q_similarity_ann_ivf)
    scale paths."""
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    # the |Q|-row query side is BROADCAST — deriving it from the fanned
    # corpus put a round-robin exchange under the BroadcastExchange,
    # pure cost (r14-opt, guide §2.4)
    q = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < N_QUERIES
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    return exact_topk(e, q, TOP_K)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN
# ---------------------------------------------------------------------------


def _hyperplanes(n_bits: int = N_BITS, dim: int = DIM) -> list[list[int]]:
    """Fixed ±1 hyperplanes derived from md5 (reproducible everywhere):
    w[b][i] = +1 iff the first hex digit of md5(f"{b}_{i}") >= '8'."""
    return [
        [1 if hashlib.md5(f"{b}_{i}".encode()).hexdigest()[0] >= "8" else -1 for i in range(dim)]
        for b in range(n_bits)
    ]


_PLANES = _hyperplanes()

#: OR-construction shape: N_BANDS bands of BAND_BITS hyperplane bits,
#: probed MULTI-PROBE (:data:`N_PROBES_LSH`) on the query side.
#: Measured on the synthetic corpus (fixed md5 planes, recall@5 vs exact
#: cosine at sf0.01/sf0.1 — SCALE.md r7/r8): a SINGLE 8-bit band has
#: recall 0.0–0.08 (near-uniform vectors almost never agree with their
#: true neighbors on all 8 signs); r7's single-probe 16×6 measured
#: 0.60/0.64 at ~24% candidates.  The r8 multi-probe sweep (shape ×
#: probes ∈ {1,2,4,8}, SCALE.md r8): 16×6 p2 → 0.76/0.88 @ 40-42%;
#: 16×8 p4 → 0.64/0.84 @ 24.5%; 24×8 p4 → **0.72/0.88 @ ~33%** — the
#: chosen point: recall ≥ 0.7 at BOTH sfs (deterministic: fixed planes,
#: fixed corpus), ~33% candidate fraction on a corpus that is LSH's
#: structural worst case (near-uniform angles: any recall gain is
#: ~linear in candidates; clustered real corpora sit far above this
#: frontier — same honesty note as the PQ codebook: RERANK_MULT).
N_BANDS = 24
BAND_BITS = 8

_BAND_PLANES = _hyperplanes(N_BANDS * BAND_BITS)


def _band_keys(sig) -> Column:
    """Split the (N_BANDS·BAND_BITS)-char signature into per-band keys."""
    return F.array(
        *[F.substring(sig, b * BAND_BITS + 1, BAND_BITS) for b in range(N_BANDS)]
    )


def lsh_signature(vec: Column, planes: list[list[int]] | None = None) -> Column:
    """len(planes)-character '0'/'1' signature by hyperplane sign.
    A null vector yields a null signature (not the all-zeros bucket a
    bare ``otherwise('0')`` would silently assign every null row to)."""
    bits = []
    for plane in planes if planes is not None else _PLANES:
        w = F.array(*[F.lit(float(x)) for x in plane])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, "1").otherwise("0"))
    return F.when(vec.isNull(), F.lit(None).cast("string")).otherwise(F.concat(*bits))


def lsh_signature_batch(vec: Column, planes: list[list[int]] | None = None) -> Column:
    """Arrow-vectorized ``lsh_signature``: bit-identical output, ~40x the
    throughput on the 32-plane config.

    The expression form's higher-order functions (``zip_with`` +
    ``aggregate``) are CodegenFallback — interpreted per row, measured
    ~2.1 s for 5.5k rows x 32 planes at sf0.1.  This pandas UDF replicates
    the EXACT arithmetic — each plane projection accumulates
    ``acc = (acc + x_i * w_i)`` sequentially over dimensions in double
    precision (one numpy rank-1 update per dimension, vectorized across
    ROWS, sequential across dims) — so signatures match the expression
    form and the DuckDB oracle bit-for-bit; parity is pinned by
    tests/test_similarity.py::test_signature_batch_matches_expression.
    """
    P = np.array(planes if planes is not None else _PLANES, dtype=np.float64)

    @F.pandas_udf("string")
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        # Null embeddings propagate null, matching the expression form
        # (zip_with/aggregate over NULL array is NULL) — mask before
        # np.stack, which would raise on a None element.
        mask = v.notna().to_numpy()
        out = np.full(len(v), None, dtype=object)
        if mask.any():
            X = np.stack(v.to_numpy()[mask]).astype(np.float64)
            acc = np.zeros((X.shape[0], P.shape[0]), dtype=np.float64)
            for i in range(P.shape[1]):
                acc += X[:, i : i + 1] * P[:, i]
            out[mask] = [
                "".join("1" if b else "0" for b in row) for row in (acc >= 0.0)
            ]
        return pd.Series(out)

    return sig(vec)


def _sig_sql(col: str, planes: list[list[int]] | None = None) -> str:
    """Hyperplane signature in DuckDB SQL — ``list_inner_product`` per
    plane (bit-identical to the ordered fold, see :func:`dot_sql`)."""
    parts = []
    for plane in planes if planes is not None else _PLANES:
        lits = "[" + ", ".join(str(float(x)) for x in plane) + "]"
        proj = (
            f"list_inner_product(CAST({col} AS DOUBLE[]), "
            f"CAST({lits} AS DOUBLE[]))"
        )
        parts.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    # flat variadic concat: chained `||` binds as a left-deep binary tree
    # and trips DuckDB's 128-deep binder recursion limit at 192 planes
    return "concat(" + ", ".join(parts) + ")"


def _proj_list_sql(col: str, planes: list[list[int]]) -> str:
    """``[proj_plane_0, ..., proj_plane_n]`` as a DuckDB DOUBLE list —
    the per-plane projections multi-probe flip selection needs."""
    parts = []
    for plane in planes:
        lits = "[" + ", ".join(str(float(x)) for x in plane) + "]"
        parts.append(
            f"list_inner_product(CAST({col} AS DOUBLE[]), CAST({lits} AS DOUBLE[]))"
        )
    return "[" + ", ".join(parts) + "]"


def _probe_key_sql(flipcond: str) -> str:
    """One probe key: band bits with the positions satisfying
    ``flipcond`` (over 1-based in-band position ``i``) flipped —
    ``(proj >= 0) != flip`` is the XOR.  References columns ``pj``
    (full projection list) and ``base`` (band offset) of the qlo CTE."""
    return (
        "list_aggr([CASE WHEN (pj[base + i] >= 0) != (" + flipcond + ") "
        "THEN '1' ELSE '0' END "
        f"for i in generate_series(1, {BAND_BITS})], 'string_agg', '')"
    )


#: the full perturbation sequence {}, {b0}, {b1}, {b0,b1}; the oracle's
#: probe list below is SLICED to N_PROBES_LSH so engine and oracle track
#: the constant together (ADVICE r8 low #5 — a hardcoded four-probe qb
#: CTE silently desynchronized the candidate sets if the constant moved)
_PROBE_KEY_EXPRS = [
    _probe_key_sql("false"),
    _probe_key_sql("i = lo[1].i"),
    _probe_key_sql("i = lo[2].i"),
    _probe_key_sql("i = lo[1].i OR i = lo[2].i"),
]


@query(
    "q_similarity_ann_lsh",
    oracle=f"""
WITH sigs AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
  -- reference, and the {N_BANDS * BAND_BITS}-plane signature is ~99% of
  -- this oracle's corpus-side cost
  SELECT vec_id, {_sig_sql('embedding', _BAND_PLANES)} AS sig
  FROM embeddings
),
bands AS MATERIALIZED (
  SELECT vec_id, b.band_id,
         substring(sig, b.band_id * {BAND_BITS} + 1, {BAND_BITS}) AS band_key
  FROM sigs,
       (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band_id) b
),
qpj AS MATERIALIZED (
  -- query-side per-plane projections (|Q| rows): multi-probe needs the
  -- magnitudes, not just the signs
  SELECT vec_id AS query_id, {_proj_list_sql('embedding', _BAND_PLANES)} AS pj
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
qlo AS (
  -- per band: in-band positions sorted by (|proj|, position) ascending —
  -- identical flip order to the engine's numpy (abs, idx) sort
  SELECT query_id, pj, band_id, band_id * {BAND_BITS} AS base,
         list_sort([{{'a': abs(pj[band_id * {BAND_BITS} + i]), 'i': i}}
                    for i in generate_series(1, {BAND_BITS})]) AS lo
  FROM qpj, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band_id) b
),
qb AS (
  -- perturbation sequence sliced to N_PROBES_LSH = {N_PROBES_LSH}
  -- (generated from the same constant the engine probes with)
  SELECT query_id, band_id, unnest([
    {", ".join(_PROBE_KEY_EXPRS[:N_PROBES_LSH])}
  ]) AS band_key
  FROM qlo
),
pairs AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM bands c
  JOIN qb q ON c.band_id = q.band_id AND c.band_key = q.band_key
  WHERE c.vec_id <> q.query_id
),
cand AS (
  SELECT p.query_id, p.vec_id, s.label,
         {cosine_sql('qv.embedding', 's.embedding')} AS score
  FROM pairs p
  JOIN embeddings s ON s.vec_id = p.vec_id
  JOIN embeddings qv ON qv.vec_id = p.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id) AS rn
  FROM cand
)
SELECT query_id, vec_id, label, score, rn
FROM ranked WHERE rn <= {TOP_K}
ORDER BY query_id, rn
""",
    group="llm-similarity",
)
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via MULTI-PROBE banded LSH: candidates are the
    union over N_BANDS bands of the query's probed keys — each band's
    exact key plus its lowest-|projection| bit flips (perturbation sets
    {}, {b0}, {b1}, {b0,b1}) — ranked by exact cosine.  Approximation
    QUALITY is measured and CI-gated (recall@K vs the exact top-K,
    tests/test_similarity.py::TestAnnRecall; 0.72/0.88 measured, floor
    0.6), not just determinism — the r6 single-band form was plan-shaped
    but recall-blind on this corpus (recall@5 ≈ 0.0), and r7's
    single-probe 16×6 sat at 0.60/0.64 (see N_BANDS's sweep table).
    The oracle replicates the probe construction in SQL: per-band
    ``list_sort`` over (|proj|, position) structs picks the same flip
    bits, so the candidate SETS must match exactly, not just the final
    ranking.  Scale shape in :func:`ann_lsh_topk`."""
    prepare(spark)
    # fan out ONLY the corpus signature side (CPU-dense Arrow UDF over
    # every vector); the |Q|-row query side and the rerank join side are
    # broadcast-or-reshuffled, where the round-robin exchange was pure
    # cost (r14-opt, guide §2.4)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    eq = load_table(spark, sf_dir, "embeddings")
    q = eq.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return ann_lsh_topk(e, q, TOP_K, rerank_corpus=eq)


# ---------------------------------------------------------------------------
# IVF-style ANN (coarse quantization by centroid cells)
# ---------------------------------------------------------------------------

N_CENTROIDS = 8
N_PROBE = 2


#: embeddings-file stamp -> centroid list: the coarse quantizer is a pure
#: function of the file, so the one-off driver collect runs once per file
#: state, not once per query invocation — repeat calls plan with zero
#: extra Spark jobs, and a rewrite at the same path re-collects.
_CENTROID_CACHE = Memo(16)


def _quantizer_key(sf_dir: str | None) -> tuple | None:
    """Stamp of ``sf_dir``'s embeddings file; None (uncached) without one."""
    return file_stamp(os.path.join(sf_dir, "embeddings.parquet")) if sf_dir else None


def _centroids(e: DataFrame, sf_dir: str | None = None) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer centroids: the vectors with vec_id < N_CENTROIDS.

    Collected to the driver at plan-build time — centroids are
    metadata-scale (k rows, like an MLlib KMeans model), which is what lets
    cell assignment compile to a pure map over the corpus instead of a
    join+shuffle.  (A trained k-means would be collected the same way.)
    ``sf_dir``, the directory ``e`` was loaded from, keys the cache.
    """

    def collect() -> list[tuple[int, list[float]]]:
        rows = (
            e.where(F.col("vec_id") < N_CENTROIDS).select("vec_id", "embedding").collect()
        )
        return sorted((r.vec_id, [float(x) for x in r.embedding]) for r in rows)

    return _CENTROID_CACHE.get_or(_quantizer_key(sf_dir), collect)


def _cell_ranking(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Ascending array<struct<s,nc>> of (cosine-to-centroid, -centroid_id):
    the best cell is the last element; ties break to the smallest id
    (max of -id).  Pure expression — whole-stage codegen, no shuffle."""
    items = []
    for cid, c in cents:
        lit = F.array(*[F.lit(x) for x in c])
        items.append(F.struct(cosine(vec, lit).alias("s"), F.lit(-cid).alias("nc")))
    return F.array_sort(F.array(*items))


def ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector with its nearest-centroid cell — the IVF index relation.
    Pure map over the corpus (literal-centroid expression, codegen)."""
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    ranking = _cell_ranking(F.col("embedding"), _centroids(e, sf_dir))
    best = F.element_at(ranking, -1)
    return e.select("vec_id", "label", "embedding", (best["nc"] * -1).alias("cell"))


def ivf_persisted_cells(spark: SparkSession, sf_dir: str) -> str:
    """The 100 TB shape as a real code path (VERDICT r4 #4a): the assigned
    relation persisted ``partitionBy("cell")``, once per (process, sf_dir),
    so probe-time reads PRUNE partitions at scan time — a query touching
    N_PROBE cells reads N_PROBE/K of the corpus bytes, verified by a plan
    assertion in tests/test_scale_paths.py."""
    from ..memo import materialize_once

    def build(path: str) -> None:
        ivf_assigned(spark, sf_dir).write.partitionBy("cell").parquet(path)

    return materialize_once("ivf_cells", sf_dir, build)


def ivf_probe_persisted(
    spark: SparkSession,
    sf_dir: str,
    tombstones: DataFrame | None = None,
    cells_path: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """ANN probe against the persisted cell-partitioned index: same output
    as ``q_similarity_ann_ivf``, but candidates come from a scan of ONLY
    the probed cells' partitions (static IN-list partition filter — the
    probe cells are computed from the query vectors' centroid ranking,
    metadata-scale like the centroids themselves).

    ``tombstones`` (a ``vec_id`` DataFrame, deletion-request-sized) is
    the ANN half of the takedown story (operators/takedown.py): retired
    vectors are excluded from the CANDIDATE side with one broadcast
    anti-join AFTER the partition-pruned scan, so deletions cost nothing
    at the index (the cell layout and the trained quantizer are
    untouched — re-clustering is a scheduled re-train, not a delete-path
    obligation) and the probe's exactness is unchanged: scoring only
    ever sees live vectors, so results EQUAL ANN over the live corpus
    under the same quantizer.

    ``cells_path`` probes an EXPLICIT cell layout (a maintenance rewrite,
    :func:`ivf_index_maintain`) instead of the sf_dir's registered one;
    ``centroids`` ranks probe cells under an explicit quantizer (a
    re-trained one) instead of the cached vec_id-seeded set — both
    default to the standing demo index."""
    prepare(spark)
    # no fanout (r14-opt): e feeds only metadata-scale work here (cached
    # centroids, the |Q|-row probe relation, the probe-cell collect); the
    # heavy side is the pruned read of the persisted cell partitions
    e = load_table(spark, sf_dir, "embeddings")
    ranking = _cell_ranking(
        F.col("embedding"), centroids if centroids is not None else _centroids(e, sf_dir)
    )
    probe_cells = F.array(
        *[(F.element_at(ranking, -1 - i)["nc"] * -1) for i in range(N_PROBE)]
    )
    probes = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.explode(probe_cells).alias("probe_cell"),
    )
    # the probed cell set is N_QUERIES*N_PROBE ids — driver-side by design,
    # exactly how an ANN service turns a query into a partition predicate
    cells = sorted({r["probe_cell"] for r in probes.select("probe_cell").distinct().collect()})
    assigned_p = read_parquet(
        spark, cells_path or ivf_persisted_cells(spark, sf_dir)
    ).where(F.col("cell").isin(cells))
    if tombstones is not None:
        assigned_p = assigned_p.join(
            F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti"
        )
    cand = (
        F.broadcast(probes)
        .join(
            assigned_p,
            (F.col("probe_cell") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine(F.col("qe"), F.col("embedding")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .orderBy("query_id", "rn")
    )


def ivf_index_append(
    spark: SparkSession,
    sf_dir: str,
    new_vectors: DataFrame,
    cells_path: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> str:
    """Incremental INGEST into the persisted IVF cell index (r12 — the
    ingest half of ANN index maintenance, pairing the takedown/fold
    half): assign each new vector to its nearest centroid under the
    CURRENT quantizer (pure literal-centroid map, no shuffle of the
    existing index) and append the rows into the same
    ``partitionBy("cell")`` layout — each cell partition gains one file
    per ingest, the LSM shape; probes are untouched because partition
    pruning reads whatever files the probed cells hold.  Returns the
    cells path.

    100 TB shape: ingest cost is O(new vectors) — one broadcast-free
    codegen assignment + a partitioned append; the existing corpus never
    rewrites.  Cell-file fragmentation folds at the next
    :func:`ivf_index_maintain` rewrite, exactly like posting fragments."""
    prepare(spark)
    path = cells_path or ivf_persisted_cells(spark, sf_dir)
    cents = centroids if centroids is not None else _centroids(
        load_table(spark, sf_dir, "embeddings", fanout=True), sf_dir
    )
    best = F.element_at(_cell_ranking(F.col("embedding"), cents), -1)
    assigned = new_vectors.select(
        "vec_id", "label", "embedding", (best["nc"] * -1).alias("cell")
    )
    assigned.write.mode("append").partitionBy("cell").parquet(path)
    return path


def ivf_index_maintain(
    spark: SparkSession,
    sf_dir: str,
    tombstones: DataFrame,
    cells_path: str | None = None,
    retrain: bool = False,
) -> tuple[str, list[tuple[int, list[float]]]]:
    """ONE maintenance call for the persisted IVF cell index (VERDICT r11
    #6): physically fold accumulated takedown tombstones into the
    cell-partitioned layout, optionally composing the scheduled RE-TRAIN
    the delete path deliberately defers.  Returns ``(new_cells_path,
    centroids)`` — the rewritten layout and the quantizer its cells are
    assigned under (pass both to :func:`ivf_probe_persisted`).

    * **fold** — drop tombstoned vectors with one broadcast anti-join and
      rewrite ``partitionBy("cell")`` to a fresh path; the quantizer is
      untouched, so post-fold probes with ``tombstones=None`` are
      IDENTICAL to pre-fold probes with the tombstone filter
      (test-pinned in tests/test_takedown.py) and tombstones stop
      accumulating — the same LSM contract as the text/dedup folds.
    * **retrain** (``retrain=True``) — one spherical k-means update over
      the LIVE vectors (the ``q_kmeans_step`` shape: per-cell mean, K
      driver-side rows), then REASSIGN every live vector to its nearest
      updated centroid and rewrite the cells — the periodic re-cluster
      that repairs cell balance after heavy deletion.  Probing the
      returned layout requires the returned centroids (the quantizer and
      the assignment must agree; the demo index's registered queries
      keep their own vec_id-seeded quantizer, which is why maintenance
      returns a NEW path instead of mutating the shared one).

    100 TB shape: the fold is partition-parallel over cell files with a
    broadcast tombstone set; the retrain adds one broadcast-assign map
    pass + one K×DIM aggregation — the corpus never shuffles."""
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    src = cells_path or ivf_persisted_cells(spark, sf_dir)
    live = read_parquet(spark, src).join(
        F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti"
    )
    cents = _centroids(e)
    if retrain:
        # Lloyd update over live vectors: new centroid = per-cell mean
        # (K×DIM driver rows — metadata-scale, like an MLlib model)
        means = (
            live.groupBy("cell")
            .agg(*[F.avg(F.col("embedding")[i]).alias(f"m{i}") for i in range(DIM)])
            .collect()
        )
        cents = sorted(
            (int(r["cell"]), [float(r[f"m{i}"]) for i in range(DIM)]) for r in means
        )
        best = F.element_at(_cell_ranking(F.col("embedding"), cents), -1)
        live = live.select(
            "vec_id", "label", "embedding", (best["nc"] * -1).alias("cell")
        )

    out = fresh_dir("anglerfish_ivf_maint_") + "/cells"
    live.write.partitionBy("cell").parquet(out)
    return out, cents


@query(
    "q_similarity_ann_ivf",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
sc AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         {cosine_sql('e.embedding', 'c.ce')} AS cscore
  FROM embeddings e CROSS JOIN cent c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cscore DESC, cid) AS crn
  FROM sc
),
assigned AS (SELECT vec_id, label, embedding, cid AS cell FROM ranked WHERE crn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qe, cid AS cell
  FROM ranked WHERE vec_id < {N_QUERIES} AND crn <= {N_PROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id, a.label,
         {cosine_sql('p.qe', 'a.embedding')} AS score
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
rankedq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id) AS rn
  FROM cand
)
SELECT query_id, vec_id, label, score, rn
FROM rankedq WHERE rn <= {TOP_K}
ORDER BY query_id, rn
""",
    group="llm-similarity",
)
def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: every vector maps to its nearest-centroid cell; each
    query probes its N_PROBE nearest cells and ranks exact cosine within
    them.

    Scale shape (the contrast to the LSH variant): the corpus is NEVER
    fully shuffled.  Cell assignment is a literal-centroid expression
    (map-only, codegen); candidates come from a broadcast join of the tiny
    probe set against assigned rows; only bucket-sized candidate sets reach
    the top-k window shuffle.  The 100 TB steady state persists `assigned`
    partitioned by cell so probes prune partitions at scan time — a REAL,
    plan-asserted code path here: :func:`ivf_persisted_cells` /
    :func:`ivf_probe_persisted` (tests/test_scale_paths.py).
    """
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    ranking = _cell_ranking(F.col("embedding"), _centroids(e, sf_dir))
    best = F.element_at(ranking, -1)
    assigned = e.select(
        "vec_id", "label", "embedding", (best["nc"] * -1).alias("cell")
    )

    probe_cells = F.array(
        *[(F.element_at(ranking, -1 - i)["nc"] * -1) for i in range(N_PROBE)]
    )
    # the |Q|-row broadcast probe side comes from a plain load: deriving
    # it from the fanned corpus put a round-robin exchange under the
    # BroadcastExchange (r14-opt, guide §2.4)
    probes = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(probe_cells).alias("probe_cell"),
        )
    )
    cand = F.broadcast(probes).join(
        assigned,
        (F.col("probe_cell") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", "vec_id", "label", cosine(F.col("qe"), F.col("embedding")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# embedding preprocessing: L2 normalization + int8 quantization
# ---------------------------------------------------------------------------


@query(
    "q_embedding_normalize",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label,
         sqrt({dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
)
SELECT vec_id, label, norm,
       CAST(list_sum([
         CAST(ROUND(GREATEST(-127.0, LEAST(127.0,
           (CAST(e.embedding[i] AS DOUBLE) / v.norm) * 127.0))) AS BIGINT)
         * i for i in generate_series(1, {DIM})]) AS BIGINT) AS q8_weighted_sum
FROM embeddings e JOIN v USING (vec_id, label)
ORDER BY vec_id
""",
    group="llm-similarity",
)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding preprocessing: L2 norm, unit-normalize, symmetric int8
    quantization (round(clip(x/||x||*127))) — the storage/ANN-prep stage
    that cuts vector bytes 4x before indexing.  The oracle verifies the
    full quantized vector through a position-weighted checksum.  Pure map
    stage; round/clip arithmetic is identical IEEE in both engines."""
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.round(
            F.greatest(F.lit(-127.0), F.least(F.lit(127.0), x.cast("double") / F.col("norm") * 127.0))
        ).cast("long"),
    )
    weighted = F.aggregate(
        F.zip_with(q8, F.sequence(F.lit(1), F.lit(DIM)), lambda q, i: q * i.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.withColumn("norm", norm)
        .select("vec_id", "label", "norm", weighted.alias("q8_weighted_sum"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# k-means (spherical) Lloyd step — the distributed iterative-clustering shape
# ---------------------------------------------------------------------------

KMEANS_K = 4


@query(
    "q_kmeans_step",
    oracle=f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
           FROM embeddings WHERE vec_id < {KMEANS_K}),
scored AS (
  SELECT e.vec_id, c.centroid_id, {cosine_sql('c.ce', 'e.embedding')} AS score
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY score DESC, centroid_id) AS rn
  FROM scored
)
SELECT centroid_id,
       COUNT(*) AS n_assigned,
       CAST(CAST(SUM(CAST(score AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS avg_score
FROM assigned WHERE rn = 1
GROUP BY centroid_id
ORDER BY centroid_id
""",
    group="llm-similarity",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step of spherical k-means: assign every vector to its
    nearest centroid (max cosine, deterministic tiebreak on centroid id)
    and report cluster occupancy + mean assignment score.

    The distributed-iterative shape: centroids (K rows) broadcast, the
    corpus never re-shuffles across iterations — each step is one
    broadcast join + one combinable aggregation, so a full k-means run is
    O(iters) map passes at 100 TB, not O(iters) shuffles of the corpus."""
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    c = e.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    scored = F.broadcast(c).crossJoin(e).select(
        "vec_id",
        "centroid_id",
        cosine(F.col("ce"), F.col("embedding")).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), "centroid_id")
    from .common import dsum

    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            (dsum(F.col("score")) / F.count(F.lit(1))).alias("avg_score"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# PCA power-iteration step
# ---------------------------------------------------------------------------

from .common import dsum, dsum_sql  # noqa: E402


@query(
    "q_pca_step",
    oracle=f"""
WITH v0 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.embedding, {dot_sql('e.embedding', 'v')} AS sc
  FROM embeddings e, v0
)
SELECT CAST(i - 1 AS INT) AS dim_idx,
       {dsum_sql('sc * embedding[i]')} AS comp
FROM s, generate_series(1, {DIM}) AS g(i)
GROUP BY i
ORDER BY dim_idx
""",
    group="llm-similarity",
)
def q_pca_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    component: ``w = Σ_d (e_d · v) e_d`` (the Gram-matrix product X'Xv
    computed without materializing X'X), with the starting direction v
    pinned to the vec_id=0 embedding for cross-engine determinism.
    Iterating (renormalize, repeat — driver loop like
    connected_components) converges to the dominant eigenvector; one step
    is the representative, oracle-checkable unit.

    Scale shape: v is metadata (one vector, embedded as literals — same
    pattern as the IVF centroids); the per-document projection is a pure
    map; the per-component rollup posexplodes to (dim, contribution) rows
    and runs ONE combinable hash agg keyed by the 64 dims, decimal-exact
    per component — corpus order and partitioning cannot change the
    result.  The corpus never shuffles; only 64 aggregate rows do.
    """
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    v0_row = e.where(F.col("vec_id") == 0).select("embedding").first()
    v0 = F.array(*[F.lit(float(x)) for x in v0_row[0]])
    scored = e.select(dot(F.col("embedding"), v0).alias("sc"), "embedding")
    return (
        scored.select("sc", F.posexplode("embedding").alias("dim_idx", "val"))
        .groupBy("dim_idx")
        .agg(dsum(F.col("sc") * F.col("val")).alias("comp"))
        .orderBy("dim_idx")
    )


# ---------------------------------------------------------------------------
# product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the standard ANN compression at corpus scale
# ---------------------------------------------------------------------------

#: subspaces x dims-per-subspace must equal DIM; PQ_K codebook entries per
#: subspace -> codes are PQ_SUBSPACES small ints per vector (here 8 bytes
#: against 256 bytes of float32 -- 32x)
PQ_SUBSPACES, PQ_SUB_DIM, PQ_K = 8, 8, 16

#: embeddings-file stamp -> PQ codebook (same keying as _CENTROID_CACHE)
_PQ_CB_CACHE = Memo(16)


def _pq_codebook(e: DataFrame, sf_dir: str | None = None) -> "np.ndarray":
    """(PQ_K, DIM) float64 codebook: the subspace slices of the vectors
    with vec_id < PQ_K — deterministic "training sample", collected to
    the driver at plan-build time like the IVF centroids (metadata-scale;
    a k-means-trained codebook would be collected the same way)."""

    def collect() -> "np.ndarray":
        rows = e.where(F.col("vec_id") < PQ_K).select("vec_id", "embedding").collect()
        return np.array(
            [v for _, v in sorted((r.vec_id, [float(x) for x in r.embedding]) for r in rows)],
            dtype=np.float64,
        )

    return _PQ_CB_CACHE.get_or(_quantizer_key(sf_dir), collect)


_PQ_SQL_D2 = f"""
list_sum([ (CAST(v.embedding[s.s * {PQ_SUB_DIM} + j] AS DOUBLE)
            - CAST(cb.ce[s.s * {PQ_SUB_DIM} + j] AS DOUBLE))
           * (CAST(v.embedding[s.s * {PQ_SUB_DIM} + j] AS DOUBLE)
              - CAST(cb.ce[s.s * {PQ_SUB_DIM} + j] AS DOUBLE))
           for j in generate_series(1, {PQ_SUB_DIM}) ])
""".strip()


@query(
    "q_pq_codes",
    oracle=f"""
WITH cb AS (SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < {PQ_K}),
d AS (
  SELECT v.vec_id, s.s, cb.c, {_PQ_SQL_D2} AS d2
  FROM embeddings v, generate_series(0, {PQ_SUBSPACES - 1}) AS s(s), cb
),
best AS (
  SELECT vec_id, s, c, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
  FROM d
)
SELECT vec_id,
       list(CAST(c AS INT) ORDER BY s) AS codes,
       list_sum(list(d2 ORDER BY s)) AS recon_err
FROM best WHERE rn = 1
GROUP BY vec_id
ORDER BY vec_id
""",
    group="similarity",
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each vector's {PQ_SUBSPACES}
    subspaces assigned to the nearest of {PQ_K} per-subspace codebook
    entries (squared L2, ties to the lowest code), plus the total
    reconstruction error — the compressed representation ADC search
    scans at 100 TB (codes are {PQ_SUBSPACES} small ints ≈ 32x smaller
    than the float32 vectors, so the scan set fits in memory where the
    raw corpus cannot).

    Scale shape: the codebook is metadata-scale and rides the closure as
    a numpy constant; encoding is a pure Arrow-vectorized map (no join,
    no shuffle beyond the final cosmetic sort).  Per SCALE.md #19 this
    sits well above the vectorization threshold ({PQ_SUBSPACES * PQ_K *
    PQ_SUB_DIM} interpreted ops/row in expression form) with
    corpus-cardinality input.  Determinism: distances accumulate in the
    exact subspace-dim order on both engines (numpy updates are
    row-vectorized, dim-sequential); argmin ties break to the lowest
    code on both (np.argmin first-min, SQL ROW_NUMBER d2-then-c).
    """
    prepare(spark)
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    cb = _pq_codebook(e, sf_dir)

    out_t = T.StructType(
        [
            T.StructField("codes", T.ArrayType(T.IntegerType()), True),
            T.StructField("err", T.DoubleType(), True),
        ]
    )

    @F.pandas_udf(out_t)
    def pq(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"codes": [], "err": []})
        mask = v.notna().to_numpy()
        out_codes = np.full(len(v), None, dtype=object)
        out_err = np.full(len(v), np.nan)
        if mask.any():
            X = np.stack(v.to_numpy()[mask]).astype(np.float64)
            n = X.shape[0]
            codes = np.zeros((n, PQ_SUBSPACES), dtype=np.int32)
            err = np.zeros(n)
            for s in range(PQ_SUBSPACES):
                D = np.zeros((n, PQ_K))
                for j in range(PQ_SUB_DIM):
                    col = s * PQ_SUB_DIM + j
                    diff = X[:, col][:, None] - cb[None, :, col]
                    D = D + diff * diff
                cs = np.argmin(D, axis=1)
                codes[:, s] = cs
                err = err + D[np.arange(n), cs]
            for j, i in enumerate(np.flatnonzero(mask)):
                out_codes[i] = codes[j].tolist()
            out_err[mask] = err
        return pd.DataFrame({"codes": out_codes, "err": out_err})

    return (
        e.select("vec_id", pq(F.col("embedding")).alias("pq"))
        .select("vec_id", F.col("pq.codes").alias("codes"), F.col("pq.err").alias("recon_err"))
        .orderBy("vec_id")
    )


_PQ_SQL_QD2 = f"""
list_sum([ (CAST(q.qe[s.s * {PQ_SUB_DIM} + j] AS DOUBLE)
            - CAST(cb.ce[s.s * {PQ_SUB_DIM} + j] AS DOUBLE))
           * (CAST(q.qe[s.s * {PQ_SUB_DIM} + j] AS DOUBLE)
              - CAST(cb.ce[s.s * {PQ_SUB_DIM} + j] AS DOUBLE))
           for j in generate_series(1, {PQ_SUB_DIM}) ])
""".strip()


@query(
    "q_pq_topk",
    oracle=f"""
WITH cb AS (SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < {PQ_K}),
d AS (
  SELECT v.vec_id, s.s, cb.c, {_PQ_SQL_D2} AS d2
  FROM embeddings v, generate_series(0, {PQ_SUBSPACES - 1}) AS s(s), cb
),
best AS (
  SELECT vec_id, s, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
  FROM d
),
codes AS (SELECT vec_id, s, c FROM best WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
lut AS (
  SELECT q.query_id, s.s, cb.c, {_PQ_SQL_QD2} AS d2
  FROM q, generate_series(0, {PQ_SUBSPACES - 1}) AS s(s), cb
),
contrib AS (
  SELECT lut.query_id, codes.vec_id, lut.s, lut.d2
  FROM codes JOIN lut ON lut.s = codes.s AND lut.c = codes.c
  WHERE codes.vec_id <> lut.query_id
),
score AS (
  SELECT query_id, vec_id, list_sum(list(d2 ORDER BY s)) AS adc_dist
  FROM contrib GROUP BY query_id, vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, vec_id) AS rank
  FROM score
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc_dist
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
    group="similarity",
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: queries stay raw,
    the corpus is scanned as codes, and each candidate's distance is the
    sum of {PQ_SUBSPACES} lookup-table entries — the query-time half of
    product quantization.

    Scale shape: the per-query lookup tables ({N_QUERIES} x
    {PQ_SUBSPACES} x {PQ_K} doubles) are computed on the DRIVER from the
    broadcast-scale codebook and query vectors, and ride the plan as a
    broadcast relation; the corpus side reads codes only (no float
    vectors move), scores via {PQ_SUBSPACES} array lookups per
    (query, vec) — a static left-fold expression, whole-stage codegen —
    and the only shuffle is the per-query top-k window.  Determinism:
    LUT entries accumulate dim-sequentially (numpy on the driver, the
    same fold the oracle spells out); the score fold over subspaces is a
    static expression-order sum; rank ties break on vec_id.
    """
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), "vec_id")
    return (
        _pq_adc_scores(
            spark, e, _pq_codebook(e, sf_dir), load_table(spark, sf_dir, "embeddings")
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "adc_dist")
        .orderBy("query_id", "rank")
    )


def _pq_adc_scores(
    spark: SparkSession,
    e: DataFrame,
    cb: "np.ndarray",
    queries_src: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, adc_dist) for every query x candidate: the ADC
    scan shared by q_pq_topk (ranks ADC directly) and q_pq_rerank
    (shortlists on ADC, reranks exactly).  ``queries_src`` (r14-opt) is
    the relation the |Q| query vectors are COLLECTED from — pass a plain
    (un-fanned) load when ``e`` carries a small-input fan-out
    repartition, so the metadata-scale collect skips the round-robin
    exchange; defaults to ``e``.  ``cb`` is the codebook (:func:`_pq_codebook`)."""
    if queries_src is None:
        queries_src = e

    # driver-side LUTs from the collected query vectors (metadata-scale)
    q_rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding])
        for r in queries_src.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    lut_rows = []
    for qid, qe in q_rows:
        Q = np.array(qe, dtype=np.float64)
        luts = []
        for s in range(PQ_SUBSPACES):
            D = np.zeros(PQ_K)
            for j in range(PQ_SUB_DIM):
                col = s * PQ_SUB_DIM + j
                diff = Q[col] - cb[:, col]
                D = D + diff * diff
            luts.append([float(x) for x in D])
        lut_rows.append((qid, luts))
    lut_df = local_df(spark, lut_rows, ["query_id", "luts"])

    from pyspark.sql import types as T

    out_t = T.ArrayType(T.IntegerType())

    @F.pandas_udf(out_t)
    def pq_codes_only(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.notna().to_numpy()
        out = np.full(len(v), None, dtype=object)
        if mask.any():
            X = np.stack(v.to_numpy()[mask]).astype(np.float64)
            n = X.shape[0]
            codes = np.zeros((n, PQ_SUBSPACES), dtype=np.int32)
            for s in range(PQ_SUBSPACES):
                D = np.zeros((n, PQ_K))
                for j in range(PQ_SUB_DIM):
                    col = s * PQ_SUB_DIM + j
                    diff = X[:, col][:, None] - cb[None, :, col]
                    D = D + diff * diff
                codes[:, s] = np.argmin(D, axis=1)
            for j, i in enumerate(np.flatnonzero(mask)):
                out[i] = codes[j].tolist()
        return pd.Series(out)

    coded = e.select("vec_id", pq_codes_only(F.col("embedding")).alias("codes"))
    cand = coded.crossJoin(F.broadcast(lut_df)).where(F.col("vec_id") != F.col("query_id"))
    score = F.lit(0.0)
    for s in range(PQ_SUBSPACES):
        score = score + F.element_at(
            F.element_at(F.col("luts"), s + 1), F.element_at(F.col("codes"), s + 1) + 1
        )
    return cand.select("query_id", "vec_id", score.alias("adc_dist"))


#: ADC shortlist size multiplier for the rerank pass: the shortlist is
#: RERANK_MULT x TOP_K candidates per query.  Measured on this corpus
#: (near-uniform synthetic vectors, nearest-d2 ~1.26 vs median ~1.97 —
#: hostile to PQ): raw ADC recall@5 ~0.16-0.20, shortlist-8x + exact
#: rerank ~0.64-0.72.  K-means-training the codebook was measured and
#: REJECTED: at every SQL-expressible sample size (72/167/250 samples,
#: 2-10 Lloyd iters) trained ADC recall came out at or below untrained
#: (0.04-0.32 vs 0.16-0.32), because near-uniform data gives k-means
#: nothing to fit; rerank is the lever that actually moves recall here.
RERANK_MULT = 8

_PQ_D2_SQL = (
    "list_sum([ (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    f" for i in generate_series(1, {DIM}) ])"
)


@query(
    "q_pq_rerank",
    oracle=f"""
WITH cb AS (SELECT vec_id AS c, embedding AS ce FROM embeddings WHERE vec_id < {PQ_K}),
d AS (
  SELECT v.vec_id, s.s, cb.c, {_PQ_SQL_D2} AS d2
  FROM embeddings v, generate_series(0, {PQ_SUBSPACES - 1}) AS s(s), cb
),
best AS (
  SELECT vec_id, s, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
  FROM d
),
codes AS (SELECT vec_id, s, c FROM best WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
lut AS (
  SELECT q.query_id, s.s, cb.c, {_PQ_SQL_QD2} AS d2
  FROM q, generate_series(0, {PQ_SUBSPACES - 1}) AS s(s), cb
),
contrib AS (
  SELECT lut.query_id, codes.vec_id, lut.s, lut.d2
  FROM codes JOIN lut ON lut.s = codes.s AND lut.c = codes.c
  WHERE codes.vec_id <> lut.query_id
),
score AS (
  SELECT query_id, vec_id, list_sum(list(d2 ORDER BY s)) AS adc_dist
  FROM contrib GROUP BY query_id, vec_id
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, vec_id) AS srn
    FROM score
  ) WHERE srn <= {TOP_K * RERANK_MULT}
),
rer AS (
  SELECT s.query_id, s.vec_id,
         {_PQ_D2_SQL.format(a='q.qe', b='e.embedding')} AS d2
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY d2, vec_id) AS rank
  FROM rer
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, d2
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
    group="similarity",
)
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + exact rerank — how production PQ search actually
    ships: the compressed-code scan cuts the candidate set to
    {TOP_K * RERANK_MULT} per query (all the corpus-scale work, no float
    vectors moving), then ONLY the shortlist's raw vectors are fetched
    and exactly re-scored (squared L2, dim-sequential fold), recovering
    the recall the 32x compression gave up: measured recall@{TOP_K}
    0.16-0.20 raw ADC -> 0.64-0.72 reranked on this corpus
    (tests/test_similarity.py::TestPQRecall, figures in SCALE.md).

    Scale shape: identical to q_pq_topk through the shortlist window;
    the rerank join touches RERANK_MULT x TOP_K x |Q| rows — query-set
    scale, not corpus scale — and the final sort is per-query top-k."""
    prepare(spark)
    e = load_table(spark, sf_dir, "embeddings", fanout=True)
    eq = load_table(spark, sf_dir, "embeddings")
    adc = _pq_adc_scores(spark, e, _pq_codebook(e, sf_dir), queries_src=eq)
    w_short = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), "vec_id")
    short = (
        adc.withColumn("srn", F.row_number().over(w_short))
        .where(F.col("srn") <= TOP_K * RERANK_MULT)
        .select("query_id", "vec_id")
    )
    # broadcast |Q|-row side from the plain load (r14-opt, guide §2.4)
    qdf = eq.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    diffs = F.zip_with(
        F.col("qe"), F.col("embedding"),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    d2 = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    rer = (
        short.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "vec_id", d2.alias("d2"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), "vec_id")
    return (
        rer.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "d2")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# r13 (VERDICT r12 #8): a CLUSTERED embedding relation — the near-uniform
# synthetic corpus makes every ANN recall gate weak (nearest-neighbor
# structure barely exists), so the quality claims for IVF→PQ→rerank are
# measured on a deterministic mixture-of-clusters relation instead, where
# real neighbor structure exists and recall has meaning.
# ---------------------------------------------------------------------------

CLUSTERED_N = 2000
CLUSTERED_K = N_CENTROIDS  # one synthetic cluster per quantizer cell

#: integer-exact synthesis both engines compute bit-identically: cluster
#: center = pseudo-random lattice in [-128, 128]^64 (multiplicative mix,
#: modulus 257), point = center + noise in ±4 (scale 0.125 = 2^-3, exact
#: in binary floating point).  Tight clusters, far-apart centers → real
#: nearest-neighbor structure.
_CLUSTERED_EXPR = (
    "transform(sequence(0, {dim}), d -> "
    "CAST((((id % {k}) * 2654435761 + d * 40503) % 257) - 128 AS DOUBLE) + "
    "CAST(((id * 7919 + d * 104729) % 65) - 32 AS DOUBLE) * 0.125)"
).format(dim=DIM - 1, k=CLUSTERED_K)

_CLUSTERED_SQL = f"""
SELECT vec_id, CAST(vec_id % {CLUSTERED_K} AS INT) AS label,
       [CAST((((vec_id % {CLUSTERED_K}) * 2654435761 + d * 40503) % 257) - 128 AS DOUBLE)
        + CAST(((vec_id * 7919 + d * 104729) % 65) - 32 AS DOUBLE) * 0.125
        for d in generate_series(0, {DIM - 1})] AS embedding
FROM generate_series(0, {CLUSTERED_N - 1}) AS g(vec_id)
""".strip()


def clustered_embeddings(spark: SparkSession, n: int = CLUSTERED_N) -> DataFrame:
    """The deterministic clustered corpus: ``(vec_id, label, embedding)``
    with ``label = vec_id % {CLUSTERED_K}`` the true cluster.  Pure
    codegen over ``spark.range`` — no data files, engine-exact vs the
    DuckDB twin (``_CLUSTERED_SQL``)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % CLUSTERED_K).cast("int").alias("label"),
        F.expr(_CLUSTERED_EXPR).alias("embedding"),
    )


RECALL_K = 10


@query(
    "q_similarity_clustered_exact",
    oracle=f"""
WITH ce AS ({_CLUSTERED_SQL}),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM ce WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT q.query_id, c.vec_id, c.label,
         {cosine_sql('q.qe', 'c.embedding')} AS score
  FROM q JOIN ce c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id) AS rn
  FROM cand
)
SELECT query_id, CAST(rn AS INT) AS rn, vec_id, label, score
FROM ranked WHERE rn <= {RECALL_K}
ORDER BY query_id, rn
""",
    group="similarity",
)
def q_similarity_clustered_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{RECALL_K} over the CLUSTERED corpus — the
    recall BASELINE the r13 ANN quality gate measures against
    (tests/test_similarity.py::TestClusteredRecall pins IVF→PQ→rerank
    recall@{RECALL_K} ≥ 0.8 on this relation, with the partition-pruned
    cell plan asserted).  The oracle recomputes the synthesis AND the
    ranking from scratch in DuckDB, so the clustered relation itself is
    engine-exact — scores included (deterministic double fold both
    sides).

    Scale shape: the baseline is O(|Q|·N) brute force by design (the
    accuracy yardstick); the gated pipeline it judges reads only probed
    cell partitions + PQ codes, the IVF/PQ scale paths."""
    prepare(spark)
    e = clustered_embeddings(spark)
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    out = exact_topk(e, queries, k=RECALL_K)
    return out.select(
        "query_id", F.col("rn").cast("int"), "vec_id", "label", "score"
    ).orderBy("query_id", "rn")
