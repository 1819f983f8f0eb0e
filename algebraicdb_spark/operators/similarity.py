"""§2.10 similarity search over the embeddings table (64-dim,
L2-normalized → dot product ≡ cosine, FIXTURES.md invariant).

Three tiers:
  - brute-force top-k: broadcast the (small) query set against all
    vectors; exact, oracle-checkable — the correctness baseline.
  - random-hyperplane LSH: 16-bit sign signatures, banded candidate
    join, exact rerank — the ANN scale path (recall asserted in
    tests/test_similarity.py vs brute force).
  - IVF: k centroid buckets (deterministic seed), probe the nProbe
    nearest centroids only — the partition-pruning ANN shape.

Scale design: queries are broadcast (they're the small side); the
corpus is never collected; LSH/IVF cut the scanned fraction from
100% to (bucket fraction) with the same top-k rerank plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from algebraicdb_spark.functions.rounding import pround
from algebraicdb_spark.operators.dedup import CANON_SQL
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables, spread

TOP_K = 5


def dot(a, b):
    """Exact dot product of two float arrays, accumulated in double.

    Round-14 measurement note (guide §1): an unrolled 64-term
    ``(((0.0 + a[0]·b[0]) + …))`` column tree was A/B-tested against
    this higher-order fold — identical hashes (same IEEE fold order),
    and the codegen'd execution matched the interpreted fold at
    fixture scale (0.42 s vs 0.39 s reuse-timed kNN), but CONSTRUCTING
    the 64-term tree costs ~0.7 s of py4j round-trips per query build
    (256 Column calls), which the bench pays on every run. The fold
    stays; revisit only if per-row dot compute ever dominates a
    profile (it would at billions of pairs — then build the unrolled
    expression JVM-side in one parsed string, not via Column algebra).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over array columns ``a`` and ``b`` —
    the same zip/cast/fold tree, for pre-rendered statements."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _list_matrix(arr):
    """Zero-copy (n, d) float64 view of an Arrow list<float/double>
    column whose rows all have the same length. ``flatten()`` applies
    the list offsets to the child values without a per-row Python
    loop; the single astype is the same exact float32→float64 widening
    ``dot()`` performs per term."""
    import numpy as np

    n = len(arr)
    if arr.null_count:
        raise ValueError("embedding column contains nulls")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if n == 0 or len(flat) % n:
        raise ValueError("ragged embedding lengths in batch")
    return flat.reshape(n, len(flat) // n).astype(np.float64, copy=False)


def bulk_cosine_tau_pairs(pairs, tau: float):
    """Score candidate (vec_a, vec_b, emb_a, emb_b) pairs, keep those
    with dot ≥ tau, and return (vec_a, vec_b, cosine) with cosine on
    the 1e-4 pround grid — the BULK tier of :func:`dot` for
    millions-of-pairs rescoring (dedup_embedding_cosine).

    Why mapInArrow and not a pandas UDF (guide §4.2): Spark's
    higher-order fold executes interpreted (13.7 s for the 2M-pair
    embedding self-score at sf0.1; an unrolled 64-term codegen tree
    was A/B-tested 3× WORSE, 40 s), and the earlier pandas-UDF twin
    still paid ~7 s building 2×2M tiny ndarrays out of the Arrow
    batches (``np.stack`` object churn) plus a JVM-side re-filter of
    every returned score. Here each list column is ONE contiguous
    Arrow values buffer: reshape to (n, d) zero-copy, accumulate
    acc = (((0 + t₀) + t₁) + …) with one vectorized multiply-add per
    DIMENSION — the same IEEE float64 op order per pair as dot(), so
    values stay bit-identical (oracle hash-verified) — and apply the
    τ-filter + pround in-batch so only surviving rows recross the
    boundary. Isolated A/B at sf0.1 (2M pairs): 9.0–10.0 → see
    OPTIMIZATION_r14.md.
    """
    from algebraicdb_spark.functions.rounding import pround_np

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            A = _list_matrix(b.column("emb_a"))
            B = _list_matrix(b.column("emb_b"))
            acc = np.zeros(b.num_rows, dtype=np.float64)
            for i in range(A.shape[1]):
                acc = acc + A[:, i] * B[:, i]
            mask = acc >= tau
            if not mask.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b.column("vec_a").to_numpy(zero_copy_only=False)[mask]),
                    pa.array(b.column("vec_b").to_numpy(zero_copy_only=False)[mask]),
                    pa.array(pround_np(acc[mask])),
                ],
                ["vec_a", "vec_b", "cosine"],
            )

    return pairs.select("vec_a", "vec_b", "emb_a", "emb_b").mapInArrow(
        score, "vec_a bigint, vec_b bigint, cosine double"
    )


def _queries_and_corpus(spark: SparkSession, sf_dir: str):
    e = load_tables(spark, sf_dir)["embeddings"]
    # 10 fixed query vectors at every scale factor (ids 0,50,...,450)
    q = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # spread the corpus side (guide §2.5): the single-row-group fixture
    # scan would otherwise run every query×corpus dot on one core; a
    # multi-split cluster table passes through unchanged
    return q, spread(e)


_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < 500
), scored AS (
  -- DOUBLE[] casts: DuckDB accumulates FLOAT[] dots in float32, which
  -- drifts a ulp from Spark's double fold at the 4th decimal
  SELECT q.q_id, e.vec_id,
         list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q JOIN embeddings e ON e.vec_id != q.q_id
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT q_id, vec_id, floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim, rnk
FROM ranked WHERE rnk <= {TOP_K}
"""


@register("sim_knn_cosine", oracle=_KNN_ORACLE)
def sim_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × corpus, exact dot,
    rank per query (unique vec_id tie-break)."""
    q, e = _queries_and_corpus(spark, sf_dir)
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", dot(F.col("q_emb"), F.col("embedding")).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", pround("sim").alias("sim"), "rnk")
    )


N_PLANES = 18
N_BANDS_SIM = 6  # 6 bands × 3 bits
BAND_BITS = N_PLANES // N_BANDS_SIM


def _hyperplanes() -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed, same every run)."""
    rng = np.random.RandomState(42)
    return rng.randn(N_PLANES, 64).tolist()


def build_lsh_planes(spark: SparkSession) -> DataFrame:
    """The LSH plane set as data -> (p_idx, vec): persist once with
    ``Engine.save_model(kind='lsh_planes')`` so every consumer of the
    signature space (indexer, online query path, a second cluster)
    provably hashes with the SAME planes — regenerating 'deterministic'
    planes in two places is exactly how signature spaces silently
    fork. Reload via ``lsh_planes_from_model``."""
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(_hyperplanes())],
        "p_idx int, vec array<double>",
    )


def lsh_planes_from_model(planes_df: DataFrame) -> list[list[float]]:
    """Collect a (p_idx, vec) model back into the plane list
    ``_signature_bits`` inlines. Bounded: N_PLANES rows (16), KB-sized
    — a metadata collect, not a data collect."""
    rows = planes_df.orderBy("p_idx").collect()
    return [list(r.vec) for r in rows]


def _signature_bits(emb, planes: list[list[float]] | None = None):
    if planes is None:
        planes = _hyperplanes()
    return [
        F.when(
            F.aggregate(
                F.zip_with(
                    emb,
                    F.array(*[F.lit(v) for v in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            1,
        ).otherwise(0)
        for plane in planes
    ]


def _bands_sql(col: str) -> str:
    """SQL text of the banded signature array for column ``col`` —
    the SAME expression tree :func:`_signature_bits` + the band sum
    built via Column algebra, pre-rendered once at import (the
    dedup_minhash_lsh device, guide §1.2 applied to the DRIVER):
    the Column form issued ~2,300 py4j round-trips per query build
    (18 planes × 64 literals + lambdas), measured 3.4–4.3 s of BUILD
    time per bench run vs 1.1 s of execution. Double literals render
    as CAST('<repr>' AS DOUBLE): shortest-repr round-trip is exact,
    so every plane dot — and the sign of every near-zero bit — is
    unchanged."""
    planes = _hyperplanes()
    bands = []
    for b in range(N_BANDS_SIM):
        bits = []
        for i in range(BAND_BITS):
            plane = planes[b * BAND_BITS + i]
            arr = "array(" + ", ".join(
                f"CAST('{v!r}' AS DOUBLE)" for v in plane
            ) + ")"
            dot_sql = (
                f"aggregate(zip_with({col}, {arr}, "
                "(x, y) -> CAST(x AS DOUBLE) * y), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            bits.append(
                f"(CASE WHEN {dot_sql} > 0 THEN 1 ELSE 0 END) * {2 ** i}"
            )
        bands.append("(0 + " + " + ".join(bits) + ")")
    return "array(" + ", ".join(bands) + ")"


# Value-hash oracle: the hyperplane constants are inlined (full float
# repr round-trips to the identical double on both engines) and every
# sign dot is an explicit left fold (list_reduce with a 0.0 seed)
# matching Spark's F.aggregate order bit-for-bit, so the sign of every
# plane dot — and therefore the candidate set — is engine-identical.
_PLANE_VALUES = ",\n    ".join(
    f"({i}, [{', '.join(repr(v) for v in plane)}])"
    for i, plane in enumerate(_hyperplanes())
)
_SIG_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * p.vec[i])"
    "), (a, b) -> a + b)"
)

_LSH_ORACLE = f"""
WITH planes(p_idx, vec) AS (VALUES
    {_PLANE_VALUES}
), q_ids AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < 500
), bits AS (
  SELECT e.vec_id, p.p_idx,
         CASE WHEN {_SIG_DOT} > 0 THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes p
), bands AS (
  SELECT vec_id, p_idx // {BAND_BITS} AS band_idx,
         CAST(SUM(bit * (1 << (p_idx % {BAND_BITS}))) AS BIGINT) AS band_val
  FROM bits GROUP BY vec_id, p_idx // {BAND_BITS}
), cand AS (
  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
  FROM bands cb JOIN bands qb
    ON cb.band_idx = qb.band_idx AND cb.band_val = qb.band_val
  JOIN q_ids q ON q.q_id = qb.vec_id
  WHERE cb.vec_id != qb.vec_id
), scored AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS sim
  FROM cand c JOIN q_ids q ON q.q_id = c.q_id
  JOIN embeddings e ON e.vec_id = c.vec_id
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT q_id, vec_id, floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim, rnk
FROM ranked WHERE rnk <= {TOP_K}
"""


@register("sim_knn_lsh", oracle=_LSH_ORACLE)
def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    18 sign bits per vector → 6 bands of 3 bits; a corpus vector is a
    candidate iff it shares a band value with the query; candidates
    are exactly re-ranked. Recall@5 vs brute force is asserted in
    tests (cosine-similar vectors agree on sign bits w.h.p.), and the
    whole pipeline is value-hash-verified: the DuckDB oracle replays
    the inlined hyperplanes with Spark's exact fold order, so even the
    sign of a near-zero plane dot agrees bit-for-bit.

    Banding is tuned for the fixture's near-random vectors (neighbor
    cosine ~0.4-0.5 → wide bands needed). Real embedding corpora have
    near-dup sims >=0.8 where narrower bands (e.g. 4+ bits × more
    planes) scan a far smaller corpus fraction — adjust N_PLANES /
    N_BANDS_SIM per corpus.
    """
    q, e = _queries_and_corpus(spark, sf_dir)
    # banded signatures from the import-time SQL text (_bands_sql):
    # one parsed expression instead of ~2,300 py4j Column calls per
    # build. The candidate join carries KEYS ONLY (guide §2.3 /
    # §8 — shuffle metadata, re-attach payloads once): the former
    # plan shuffled the 64-double embedding through a band
    # repartition that a broadcast join never needed, and deduped
    # candidates with both vectors attached.
    corpus_banded = e.selectExpr(
        "vec_id",
        f"posexplode({_bands_sql('embedding')}) AS (band_idx, band_val)",
    )
    query_banded = q.selectExpr(
        "q_id",
        f"posexplode({_bands_sql('q_emb')}) AS (band_idx, band_val)",
    )
    cand_ids = (
        corpus_banded.join(
            F.broadcast(query_banded),
            ["band_idx", "band_val"],
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = (
        cand_ids.join(e, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id", "vec_id", dot(F.col("q_emb"), F.col("embedding")).alias("sim")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", pround("sim").alias("sim"), "rnk")
    )


N_CENTROIDS = 16
# Probes per query (round 9: was 6). Measured recall@5 by N_PROBE at
# fixed 16 centroids / 2 Lloyd rounds (sf0.001/0.01/0.1; sf0.1 column
# extended round 10):
#   4: 0.58/0.54/0.48   6: 0.72/0.66/0.60
#   8: 0.84/0.74/0.74  10: 0.92/0.82/0.86
#  12: -/-/0.88        14: -/-/0.96
# 0.86 at nprobe=10 IS the knee for THIS index shape: pushing past 0.9
# needs 14 of 16 buckets — scanning 7/8 of the corpus, at which point
# the "index" is a brute-force scan with extra steps. The honest lever
# for ≥0.9 at scale is CENTROID COUNT, not probes: production sizes
# N_CENTROIDS ∝ √N (e.g. 10⁴ buckets for 10⁸ vectors) so each probe
# covers ~N/10⁴ vectors and nprobe ~32 reaches 0.9+ while scanning
# <1% of the corpus — the fixture's 16 buckets exist to keep the
# unrolled DuckDB oracle tractable, and the knob travels with the
# saved model's search half (``ivf_search(nprobe=…)``).
N_PROBE = 10


_MEAN_GRID = 10**9  # floor v onto 1e-9 before the mean sum (see below)


def _refine_centroids(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """One distributed Lloyd iteration: assign every vector to its
    nearest centroid, recompute centroids as element-wise means.

    Fully declarative: argmax assignment (broadcast join + window),
    then posexplode → groupBy(c_id, dim) mean → re-assemble arrays.
    This is exactly how IVF training scales — per-dimension partial
    means shuffle only (k × dim) cells.

    The mean floors each element onto the 1e-9 grid and sums exact
    integers instead of F.avg: a float avg depends on summation ORDER
    (nondeterministic across partitionings and engines), while integer
    sums are order-free — this is what makes the whole IVF pipeline
    value-hash-verifiable against the DuckDB oracle. The ≤1e-9 centroid
    perturbation is far below any assignment boundary that matters.
    """
    scored = e.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "embedding", "c_id", dot(F.col("embedding"), F.col("c_emb")).alias("s")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("c_id"))
    assigned = (
        scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") == 1)
    )
    dims = assigned.select(
        "c_id", F.posexplode(F.col("embedding")).alias("dim", "v")
    )
    mean = (
        F.sum(F.floor(F.col("v").cast("double") * _MEAN_GRID).cast("long"))
        .cast("double")
        / F.lit(float(_MEAN_GRID))
    ) / F.count(F.lit(1))
    means = dims.groupBy("c_id", "dim").agg(mean.alias("m"))
    return (
        means.groupBy("c_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s.getField("m").cast("float"),
            ).alias("c_emb")
        )
    )


def _fold_dot(a: str, b: str) -> str:
    """DuckDB left-fold dot product matching Spark's ``dot`` (zip
    products in dim order, 0.0 seed, sequential adds) bit-for-bit."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * "
        f"CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


# Lloyd rounds in the index build (round-8: was 1). Measured recall@5
# by rounds × SF (deterministic pipeline, 2026-08-14):
#   2 rounds: sf0.001 0.72 / sf0.01 0.66 / sf0.1 0.60
#   3 rounds: 0.76 / 0.62 / 0.60
#   4 rounds: 0.82 / 0.64 / 0.62
# At sf0.01/sf0.1 recall is flat in rounds (0.66→0.62→0.64 and
# 0.60→0.60→0.62) — there the lever is probes, not training. At
# sf0.001 recall does keep climbing with rounds (0.72→0.76→0.82):
# with only ~600 vectors per 16 buckets the partition boundaries are
# still moving, so tiny corpora benefit from more Lloyd work. 2 rounds
# is therefore a cost/oracle-size trade (each extra round doubles the
# unrolled oracle CTE chain), not a universal quality plateau.
IVF_ITERS = 2


def _ivf_oracle() -> str:
    """Full replay of the IVF pipeline: stride seeds → IVF_ITERS
    unrolled Lloyd iterations (grid-floored integer means — order-free
    on both engines) → bucket assignment / nProbe probing via the same
    fold-order dots → exact rerank. Every float op is either
    bit-identical (fold-order dots, float casts) or an exact integer
    sum, so the key is value-hash-verified despite being "trained".
    Same unrolled-CTE device as ``ml_train_kmeans``'s oracle
    (ml.py:_kmeans_oracle); MATERIALIZED stops DuckDB inlining each
    round into the next.
    """
    ctes = [
        """seeds AS MATERIALIZED (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
  WHERE vec_id % 31 = 7 AND vec_id < 496
)"""
    ]
    prev = "seeds"
    for i in range(IVF_ITERS):
        ctes.append(f"""a{i} AS MATERIALIZED (
  SELECT vec_id, embedding, c_id FROM (
    SELECT e.vec_id, e.embedding, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_fold_dot('e.embedding', 'c.c_emb')} DESC,
                                       c.c_id) AS r
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE r = 1
),
dims{i} AS MATERIALIZED (
  SELECT c_id, u.dim, u.v
  FROM a{i} t,
       LATERAL (SELECT UNNEST(t.embedding) AS v,
                       generate_subscripts(t.embedding, 1) AS dim) u
),
cents{i} AS MATERIALIZED (
  SELECT c_id, list(CAST(m AS FLOAT) ORDER BY dim) AS c_emb
  FROM (
    SELECT c_id, dim,
           (CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * {_MEAN_GRID}) AS BIGINT))
                 AS DOUBLE) / {_MEAN_GRID}.0) / COUNT(*) AS m
    FROM dims{i} GROUP BY c_id, dim
  ) GROUP BY c_id
)""")
        prev = f"cents{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
corpus_a AS (
  SELECT vec_id, embedding, c_id FROM (
    SELECT e.vec_id, e.embedding, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_fold_dot('e.embedding', 'c.c_emb')} DESC,
                                       c.c_id) AS r
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE r = 1
), q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < 500
), probes AS (
  SELECT q_id, q_emb, c_id FROM (
    SELECT q.q_id, q.q_emb, c.c_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_fold_dot('q.q_emb', 'c.c_emb')} DESC,
                                       c.c_id) AS r
    FROM q CROSS JOIN {prev} c
  ) WHERE r <= {N_PROBE}
), cand AS (
  SELECT DISTINCT p.q_id, p.q_emb, ca.vec_id, ca.embedding
  FROM corpus_a ca JOIN probes p ON ca.c_id = p.c_id
  WHERE ca.vec_id != p.q_id
), scored AS (
  SELECT q_id, vec_id,
         list_dot_product(CAST(q_emb AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS sim
  FROM cand
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT q_id, vec_id, floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim, rnk
FROM ranked WHERE rnk <= {TOP_K}
"""
    )


_IVF_ORACLE = _ivf_oracle()


def build_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build: deterministic stride seeds refined by
    IVF_ITERS distributed Lloyd iterations -> (c_id, c_emb). The
    expensive half of the IVF pipeline — persist it with
    ``Engine.save_model`` so queries skip training entirely (at 100 TB
    the index build dwarfs any single query); the saved model carries
    the multi-round centroids."""
    _, e = _queries_and_corpus(spark, sf_dir)
    # 16 deterministic seed ids: vec_id ≡ 7 (mod 31) below 496 — present
    # at every SF (embeddings always has ≥ 500 rows), independent of
    # partition/task order, and derived with NO driver-side count/limit
    # job (an unordered .limit() would pick partition-order-dependent
    # rows and make recall flaky across runs)
    cents = e.filter(
        (F.col("vec_id") % 31 == 7) & (F.col("vec_id") < 496)
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    for i in range(IVF_ITERS):
        # checkpoint BETWEEN rounds: round N's plan otherwise embeds
        # round N-1's whole assignment DAG (doubling per round). Lazy,
        # so merely CONSTRUCTING the frame (scalelint sweep, plan
        # pins) runs no Lloyd job; and the final round stays
        # un-checkpointed so the returned plan still shows the Lloyd
        # stage (pinned by test_models) and composes with the caller's
        # search plan.
        if i:
            cents = cents.localCheckpoint(eager=False)
        cents = _refine_centroids(e, cents)
    return cents


def ivf_search(
    q: DataFrame, e: DataFrame, centroids: DataFrame, nprobe: int = N_PROBE
) -> DataFrame:
    """The query half of IVF: bucket-assign the corpus, probe the
    ``nprobe`` nearest buckets per query, exact-rerank candidates.
    Takes centroids as data — freshly trained or reloaded from a saved
    model — and builds NO training stages. ``nprobe`` is the
    recall/cost knob (see the measured grid at N_PROBE above); the
    default is the shipped 10."""

    def assign(df, emb_col, id_col, keep, n_best):
        scored = df.crossJoin(F.broadcast(centroids)).select(
            *keep, id_col, "c_id", dot(F.col(emb_col), F.col("c_emb")).alias("c_sim")
        )
        w = Window.partitionBy(id_col).orderBy(F.col("c_sim").desc(), F.col("c_id"))
        return (
            scored.withColumn("c_rnk", F.row_number().over(w))
            .filter(F.col("c_rnk") <= n_best)
            .drop("c_sim", "c_rnk")
        )

    corpus_assigned = assign(e, "embedding", "vec_id", ["embedding"], 1)
    query_probes = assign(q, "q_emb", "q_id", ["q_emb"], nprobe)
    cands = corpus_assigned.join(F.broadcast(query_probes), "c_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = cands.select(
        "q_id", "vec_id", dot(F.col("q_emb"), F.col("embedding")).alias("sim")
    ).dropDuplicates(["q_id", "vec_id"])
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", pround("sim").alias("sim"), "rnk")
    )


@register("sim_knn_ivf", oracle=_IVF_ORACLE)
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid buckets,
    search only the nProbe closest buckets per query.

    Composition of ``build_ivf_centroids`` (train — persistable via
    Engine.save_model) and ``ivf_search`` (probe/rerank): bucket
    assignment is a broadcast argmax, the candidate join hits
    ~nProbe/k of the corpus instead of all of it. Value-hash-verified:
    the oracle replays seeds, the grid-floored Lloyd means, and every
    assignment dot in Spark's fold order.
    """
    q, e = _queries_and_corpus(spark, sf_dir)
    return ivf_search(q, e, build_ivf_centroids(spark, sf_dir))


RANGE_TAU = 0.25


@register(
    "sim_range_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id % 50 = 0 AND vec_id < 500
    )
    SELECT q_id, e.vec_id,
           floor(list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[]))
                 * 10000 + 0.5) / 10000 AS sim
    FROM q JOIN embeddings e ON e.vec_id != q.q_id
    WHERE list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])) >= {RANGE_TAU}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: every corpus vector with
    cosine ≥ τ of each query — the other half of a vector-search API
    (kNN answers "closest k", range answers "all within τ", the shape
    retrieval dedup and near-duplicate blocklists need).

    Scale shape: identical to sim_knn_cosine — broadcast the tiny
    query side, stream the corpus once with a JVM fold dot product,
    no window at all (the τ filter replaces ranking, so this is pure
    map-side work after the broadcast). The LSH/IVF banded variants
    (sim_knn_lsh / sim_knn_ivf) cut the scanned fraction the same way
    for radius queries — bucket probes are threshold-agnostic.
    """
    q, e = _queries_and_corpus(spark, sf_dir)
    sim = dot(F.col("q_emb"), F.col("embedding"))
    return (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("_s"))
        .filter(F.col("_s") >= RANGE_TAU)
        .select("q_id", "vec_id", pround("_s").alias("sim"))
    )


PQ_BLOCKS = 8       # 64 dims -> 8 subspaces of 8 dims
PQ_SUB_DIM = 64 // PQ_BLOCKS
PQ_K = 16           # centroids per subspace (4-bit codes)
# Approx candidates kept per query for exact rerank (round 9: was
# 8*TOP_K=40; round 10: 48*TOP_K=240 → 72*TOP_K=360). Measured
# recall@5 by rerank pool at 2 Lloyd rounds (sf0.001/0.01/0.1,
# 2026-08-15, extended grid):
#   40: 0.68/0.60/0.40   80: 0.84/0.72/0.58
#  160: 1.00/0.92/0.78  240: 1.00/1.00/0.84
#  360: 1.00/1.00/0.94  480: -/-/0.94  ← knee at 360
# The pool is the recall lever for PQ — ADC ranking error, not
# codebook quality, is what loses true neighbors (see PQ_ITERS grid:
# Lloyd rounds are flat). The pool costs one exact dot per candidate
# fetched by id AFTER the ADC scan has already ranked the whole
# corpus, so 1.5× the pool is ~free relative to the scan; 360 lifts
# sf0.1 recall 0.84 → 0.94 (floor pinned at 0.9 in
# tests/test_similarity.py) and saturates — 480 buys nothing more.
# Callers pick their own point via pq_search(rerank=...).
PQ_RERANK = 72 * TOP_K
PQ_TRAIN_MOD = 2    # train on vec_id % MOD = 0 (raise at scale: KB-sized
                    # codebooks need only ~1e4 vectors however big the corpus)
PQ_TRAIN_CAP = 4096  # cap train rows via vec_id < MOD*CAP (ids are dense)
_ADC_GRID = 10**6    # floor each ADC partial onto 1e-6 before the block sum


def _pq_l2(a: str, b: str) -> str:
    """DuckDB left-fold squared-L2 over a PQ subspace, matching Spark's
    ``zip_with (x-y)^2`` + ``aggregate`` fold bit-for-bit."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {PQ_SUB_DIM + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (x, y) -> x + y)"
    )


# Lloyd rounds in the codebook build (round 9: was 1). Measured
# recall@5 by rounds × SF (deterministic pipeline, 2026-08-15; grid in
# docs/SCALE.md §6), at the shipped rerank=240:
#   1 round:  sf0.001 1.00 / sf0.01 1.00 / sf0.1 0.86
#   2 rounds: 1.00 / 1.00 / 0.84
#   3 rounds: 0.98 / 0.98 / 0.82
# and at the old rerank=40: 0.72/0.58/0.46 → 0.68/0.60/0.40 →
# 0.70/0.66/0.38. Rounds are FLAT to slightly negative (±0.02–0.04 =
# one to two hits of the 50-hit probe's granularity — noise): with 16
# centroids per 8-dim subspace over a 4096-row train sample the seeds
# are already near-stationary, and PQ recall is bounded by ADC
# ranking error, which training cannot remove. The recall lever is
# PQ_RERANK (measured grid there), not rounds. 2 rounds ships to pin
# the multi-round trainer/oracle machinery (each extra round adds 5
# MATERIALIZED CTEs to the unrolled oracle; the train sample is
# PQ_TRAIN_CAP rows however big the corpus, so round cost is bounded).
PQ_ITERS = 2


def _pq_oracle() -> str:
    """Full replay of the PQ pipeline (same determinism recipe as the
    IVF oracle): stride-sampled train set with a vec_id cap, seed
    centroids = first PQ_K train vectors, PQ_ITERS unrolled Lloyd
    rounds with grid-floored integer-sum means (order-free on both
    engines; an empty cluster keeps its previous-round centroid),
    nearest-centroid encoding and ADC lookups via fold-order float
    ops, and an integer (1e-6-grid) block sum for the approx ranking
    so the candidate cut is engine-exact. The exact rerank then
    matches sim_knn_cosine's recipe. MATERIALIZED on every iteration
    CTE stops DuckDB inlining each round into the next."""
    ctes = [
        f"""blocks AS (
  SELECT UNNEST(range(0, {PQ_BLOCKS})) AS block
), corpus_sub AS MATERIALIZED (
  SELECT e.vec_id, b.block,
         list_transform(
           list_slice(e.embedding, b.block * {PQ_SUB_DIM} + 1,
                      b.block * {PQ_SUB_DIM} + {PQ_SUB_DIM}),
           x -> CAST(x AS DOUBLE)) AS subvec
  FROM embeddings e CROSS JOIN blocks b
), train AS MATERIALIZED (
  SELECT * FROM corpus_sub
  WHERE vec_id % {PQ_TRAIN_MOD} = 0
    AND vec_id < {PQ_TRAIN_MOD * PQ_TRAIN_CAP}
), cbseed AS MATERIALIZED (
  SELECT block, CAST(vec_id // {PQ_TRAIN_MOD} AS INT) AS centroid_id,
         subvec AS centroid
  FROM train WHERE vec_id < {PQ_TRAIN_MOD * PQ_K}
)"""
    ]
    prev = "cbseed"
    for i in range(PQ_ITERS):
        ctes.append(f"""best{i} AS MATERIALIZED (
  SELECT vec_id, block, subvec, centroid_id FROM (
    SELECT t.vec_id, t.block, t.subvec, cb.centroid_id,
           row_number() OVER (PARTITION BY t.vec_id, t.block
                              ORDER BY {_pq_l2('t.subvec', 'cb.centroid')} ASC,
                                       cb.centroid_id ASC) AS r
    FROM train t JOIN {prev} cb USING (block)
  ) WHERE r = 1
),
dims{i} AS MATERIALIZED (
  SELECT block, centroid_id, u.dim, u.v
  FROM best{i} t,
       LATERAL (SELECT UNNEST(t.subvec) AS v,
                       generate_subscripts(t.subvec, 1) AS dim) u
),
means{i} AS MATERIALIZED (
  SELECT block, centroid_id, dim,
         (CAST(SUM(CAST(floor(v * {_MEAN_GRID}) AS BIGINT)) AS DOUBLE)
          / {_MEAN_GRID}.0) / COUNT(*) AS m
  FROM dims{i} GROUP BY block, centroid_id, dim
),
trained{i} AS MATERIALIZED (
  SELECT block, centroid_id, list(m ORDER BY dim) AS trained
  FROM means{i} GROUP BY block, centroid_id
),
cb{i} AS MATERIALIZED (
  SELECT p.block, p.centroid_id, COALESCE(t.trained, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN trained{i} t USING (block, centroid_id)
)""")
        prev = f"cb{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""", codes AS (
  SELECT vec_id, block, centroid_id FROM (
    SELECT c.vec_id, c.block, cb.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id, c.block
                              ORDER BY {_pq_l2('c.subvec', 'cb.centroid')} ASC,
                                       cb.centroid_id ASC) AS r
    FROM corpus_sub c JOIN {prev} cb USING (block)
  ) WHERE r = 1
), q_sub AS (
  SELECT vec_id AS q_id, block, subvec AS q_subvec FROM corpus_sub
  WHERE vec_id % 50 = 0 AND vec_id < 500
), lut AS (
  SELECT qs.q_id, qs.block, cb.centroid_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(range(1, {PQ_SUB_DIM + 1}),
                          i -> qs.q_subvec[i] * cb.centroid[i])),
           (x, y) -> x + y) AS partial
  FROM q_sub qs JOIN {prev} cb USING (block)
), approx AS (
  SELECT l.q_id, c.vec_id,
         SUM(CAST(floor(l.partial * {_ADC_GRID}) AS BIGINT)) AS approx_g
  FROM codes c
  JOIN lut l ON c.block = l.block AND c.centroid_id = l.centroid_id
  WHERE c.vec_id != l.q_id
  GROUP BY l.q_id, c.vec_id
), cands AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY approx_g DESC, vec_id ASC) AS arn
    FROM approx
  ) WHERE arn <= {PQ_RERANK}
), scored AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])) AS sim
  FROM cands c
  JOIN embeddings q ON q.vec_id = c.q_id
  JOIN embeddings e ON e.vec_id = c.vec_id
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT q_id, vec_id, floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim, rnk
FROM ranked WHERE rnk <= {TOP_K}
"""
    )


_PQ_ORACLE = _pq_oracle()


def _pq_subvecs(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Explode (id, embedding) into PQ_BLOCKS (id, block, subvec) rows."""
    sub = lambda emb, b: F.slice(emb, b * PQ_SUB_DIM + 1, PQ_SUB_DIM)  # noqa: E731
    blocks = F.array(*[F.lit(b) for b in range(PQ_BLOCKS)])
    return df.select(
        id_col,
        F.explode(blocks).alias("block"),
        emb_col,
    ).select(
        id_col,
        "block",
        F.transform(
            sub(F.col(emb_col), F.col("block")), lambda x: x.cast("double")
        ).alias("subvec"),
    )


def _pq_sub_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _refine_pq_codebook(train: DataFrame, codebook: DataFrame) -> DataFrame:
    """One distributed Lloyd round over the subspace train sample:
    assign every (vec, block) subvector to its nearest centroid,
    recompute per-(block, centroid, dim) grid-floored integer-sum
    means (order-free — the same determinism device as
    ``_refine_centroids``), re-assemble arrays. A centroid whose
    cluster lost every point keeps its previous-round vector
    (COALESCE against the incoming codebook) so the codebook always
    has PQ_BLOCKS × PQ_K entries."""
    l2 = _pq_sub_l2
    assigned = train.join(F.broadcast(codebook), "block").select(
        "vec_id", "block", "subvec", "centroid_id",
        l2(F.col("subvec"), F.col("centroid")).alias("d2"),
    )
    w_tr = Window.partitionBy("vec_id", "block").orderBy(
        F.col("d2").asc(), F.col("centroid_id").asc()
    )
    best = assigned.withColumn("r", F.row_number().over(w_tr)).filter(F.col("r") == 1)
    tr_dims = best.select(
        "block", "centroid_id", F.posexplode(F.col("subvec")).alias("dim", "v")
    )
    mean = (
        F.sum(F.floor(F.col("v") * _MEAN_GRID).cast("long")).cast("double")
        / F.lit(float(_MEAN_GRID))
    ) / F.count(F.lit(1))
    tr_means = tr_dims.groupBy("block", "centroid_id", "dim").agg(mean.alias("m"))
    trained = tr_means.groupBy("block", "centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s.getField("m"),
        ).alias("trained")
    )
    return codebook.join(trained, ["block", "centroid_id"], "left").select(
        "block",
        "centroid_id",
        F.coalesce(F.col("trained"), F.col("centroid")).alias("centroid"),
    )


def build_pq_codebook(
    spark: SparkSession, sf_dir: str, iters: int = PQ_ITERS
) -> DataFrame:
    """PQ codebook train -> (block, centroid_id, centroid): stride-
    sampled subvectors, seed centroids, ``iters`` grid-floored
    distributed Lloyd rounds (the IVF trainer's determinism recipe).
    KB-sized however big the corpus — the canonical persist-once
    artifact for ``Engine.save_model``; at 100 TB the train sample is
    bounded by PQ_TRAIN_CAP rows per block regardless of corpus
    size.

    EAGER since round 14: each Lloyd round collects the KB-sized
    codebook to the driver (literal-replay device below), so merely
    BUILDING this DataFrame runs the training jobs — plan-only
    callers (explain/plan_dump) pay for training once per call, and
    training failures surface at build time. Callers that need a
    lazy handle should wrap the call site, not this trainer."""
    _, e = _queries_and_corpus(spark, sf_dir)
    corpus_sub = _pq_subvecs(e, "vec_id", "embedding")
    # deterministic stride sample with a dense-id cap: only ~1/MOD of
    # the corpus (bounded at MOD*CAP ids) enters the trainer shuffle.
    # Checkpoint it: every Lloyd round joins against it, and uncached
    # each round re-derived the whole explode from the parquet scan.
    train = corpus_sub.filter(
        (F.col("vec_id") % PQ_TRAIN_MOD == 0)
        & (F.col("vec_id") < PQ_TRAIN_MOD * PQ_TRAIN_CAP)
    ).localCheckpoint(eager=False)
    codebook = train.filter(F.col("vec_id") < PQ_TRAIN_MOD * PQ_K).select(
        "block",
        F.expr(f"CAST(vec_id DIV {PQ_TRAIN_MOD} AS INT)").alias("centroid_id"),
        F.col("subvec").alias("centroid"),
    )
    for _ in range(iters):
        codebook = _refine_pq_codebook(train, codebook)
        # The codebook is KB-sized BY DESIGN (PQ_BLOCKS × PQ_K rows)
        # at any corpus scale, so each round's result returns as a
        # driver collect and re-enters as a 1-slice parallelize (the
        # pagerank/logreg literal-replay device, round 14): this
        # truncates the plan like the former lazy localCheckpoint but
        # skips its eager Catalyst planning pass (~0.46 s/ckpt
        # measured), and the search half's broadcasts then read local
        # rows instead of re-materializing a checkpoint. Doubles
        # round-trip the driver bit-exactly (codebooks compared equal
        # tuple-for-tuple in the A/B); full PQ 5.7 -> 4.4 s.
        rows = codebook.collect()
        codebook = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            "block int, centroid_id int, centroid array<double>",
        )
    return codebook


def pq_search(
    q: DataFrame, e: DataFrame, codebook: DataFrame, rerank: int = PQ_RERANK
) -> DataFrame:
    """The query half of PQ: encode the corpus against the (possibly
    reloaded) codebook, score queries by asymmetric distance over
    broadcast lookup tables, exact-rerank the top ``rerank``
    candidates. Contains NO training stages — pair with
    ``build_pq_codebook`` / ``Engine.load_model``. ``rerank`` is the
    recall/cost knob (see the measured grid at PQ_RERANK): ADC
    ranking error — not codebook quality — bounds PQ recall, so a
    bigger exact-rerank pool is how recall is bought; each candidate
    costs one exact dot over the full vector."""
    l2 = _pq_sub_l2
    corpus_sub = _pq_subvecs(e, "vec_id", "embedding")
    # encode: nearest centroid per (vec, block) — broadcast codebook join
    codes = (
        corpus_sub.join(F.broadcast(codebook), "block")
        .select(
            "vec_id",
            "block",
            F.struct(
                l2(F.col("subvec"), F.col("centroid")).alias("d"), "centroid_id"
            ).alias("sc"),
        )
        .groupBy("vec_id", "block")
        .agg(F.min("sc").alias("best"))
        .select("vec_id", "block", F.col("best.centroid_id").alias("centroid_id"))
    )
    # ADC lookup table: query-subvec · centroid per (q, block, centroid)
    q_sub = _pq_subvecs(q, "q_id", "q_emb").withColumnRenamed("subvec", "q_subvec")
    lut = q_sub.join(F.broadcast(codebook), "block").select(
        "q_id",
        "block",
        "centroid_id",
        F.aggregate(
            F.zip_with(F.col("q_subvec"), F.col("centroid"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("partial"),
    )
    # grid-floor each partial to an integer BEFORE the block sum: an
    # 8-double float sum depends on add order (engine/partitioning-
    # dependent); the integer sum is exact, so the candidate cut is
    # bit-identical on both engines
    approx = (
        codes.join(F.broadcast(lut), ["block", "centroid_id"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(F.floor(F.col("partial") * _ADC_GRID).cast("long")).alias(
                "approx_g"
            )
        )
    )
    w_a = Window.partitionBy("q_id").orderBy(
        F.col("approx_g").desc(), F.col("vec_id").asc()
    )
    cands = approx.withColumn("arn", F.row_number().over(w_a)).filter(
        F.col("arn") <= rerank
    )
    # exact rerank of the candidate pool only
    exact = (
        cands.join(e, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", "vec_id", dot(F.col("q_emb"), F.col("embedding")).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", pround("sim").alias("sim"), "rnk")
    )


@register("sim_knn_pq", oracle=_PQ_ORACLE)
def sim_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS-style tier): split vectors
    into PQ_BLOCKS subspaces, train a PQ_K-entry codebook per subspace
    (``build_pq_codebook`` — persistable via Engine.save_model),
    encode the corpus as PQ_BLOCKS 4-bit codes, score queries by
    asymmetric distance (table lookups), exact-rerank the top
    PQ_RERANK (``pq_search``).

    Scale shape: codebook training shuffles only the deterministic
    vec_id-stride sample capped at PQ_TRAIN_CAP rows per block
    (codebooks are KB-sized regardless of corpus size; raise MOD at
    scale). Encoding and ADC scoring are equi-joins against the
    broadcast codebook/lookup table, so the corpus-grain work is
    map-side + one (q, vec) agg over PQ_BLOCKS partial sums; the
    exact rerank touches only PQ_RERANK × |queries| vectors. The ADC
    ranking sums 1e-6-grid-floored integer partials, so the candidate
    cut is order-free and engine-exact; recall vs brute force is
    additionally pinned in tests/test_similarity.py.
    """
    q, e = _queries_and_corpus(spark, sf_dir)
    return pq_search(q, e, build_pq_codebook(spark, sf_dir))


# The retrieval as three pre-rendered statements (the
# pipeline_dedup_funnel device): the Column-object form issued ~900
# py4j round-trips per build. Expressions are the Column form's SQL
# text, so values are hash-identical. No spread: A/B at sf0.1 measured
# the 1-task tokenize fused into the scan at parity with a widened one
# (the tf GROUP BY exchange right below already spreads the heavy
# side).
#
# The (doc, token, tf) postings feed df, the doc count and the weight
# join; the weights feed norms, queries and dots. Each is bound as a
# localCheckpoint(eager=False), which is NOT lazy under AQE: its toRdd
# runs every exchange and broadcast below it at build time — the
# build runs 6 jobs (2 with AQE off). Kept by measured op time
# (build + noop write, 4 cores, medians of 12 interleaved pairs,
# benchmark fixture / sf0.1): both checkpoints 0.80 / 1.26 s against
# none (one statement, 0 build jobs) 0.95 / 1.70 s; both 0.70 /
# 1.37 s against the postings only (1 build job) 0.79 / 1.39 s; both
# 0.76 / 1.16 s against the weights only (7 build jobs) 0.72 / 1.16 s.
_TFIDF_TF_SQL = (
    "SELECT doc_id, token, count(1) AS c FROM (\n"
    "  SELECT doc_id, explode(split(" + CANON_SQL + ", ' ')) AS token FROM {docs}\n"
    ") GROUP BY doc_id, token"
)
_TFIDF_W_SQL = (
    "WITH dfs AS (SELECT token, count(1) AS dfc FROM {tf} GROUP BY token),\n"
    "nn AS (SELECT count(DISTINCT doc_id) AS n FROM {tf})\n"
    "SELECT /*+ BROADCAST(d, nn) */ tf.doc_id, tf.token,\n"
    "       tf.c * floor(ln(CAST(nn.n AS DOUBLE) / d.dfc) * 10000) AS w\n"
    "FROM {tf} tf JOIN dfs d ON tf.token = d.token CROSS JOIN nn"
)
_TFIDF_SQL = (
    "WITH norm2 AS (SELECT doc_id, sum(w * w) AS n2 FROM {w} GROUP BY doc_id),\n"
    # FIXED query set (not a modulus): retrieval cost is |Q| x
    # postings, so |Q| must stay constant as the corpus grows
    "q AS (\n"
    "  SELECT doc_id AS q_doc, token, w AS wq FROM {w}\n"
    "  WHERE doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)\n"
    "),\n"
    "dots AS (\n"
    "  SELECT /*+ BROADCAST(q) */ q.q_doc, w.doc_id, sum(q.wq * w.w) AS dot\n"
    "  FROM q JOIN {w} w ON q.token = w.token WHERE w.doc_id != q.q_doc\n"
    "  GROUP BY q.q_doc, w.doc_id\n"
    "),\n"
    "scored AS (\n"
    "  SELECT /*+ BROADCAST(nq, nd) */ dots.q_doc, dots.doc_id,\n"
    "         floor(CAST(dots.dot AS DOUBLE)\n"
    "               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE)))\n"
    "               * 1000000 + 0.5D) AS cos_grid\n"
    "  FROM dots\n"
    "  JOIN norm2 nq ON nq.doc_id = dots.q_doc\n"
    "  JOIN norm2 nd ON nd.doc_id = dots.doc_id\n"
    ")\n"
    "SELECT q_doc, rk, doc_id, CAST(cos_grid AS DOUBLE) / 1000000 AS cosine FROM (\n"
    "  SELECT q_doc, doc_id, cos_grid,\n"
    "         row_number() OVER (PARTITION BY q_doc ORDER BY cos_grid DESC, doc_id) AS rk\n"
    "  FROM scored\n"
    ") WHERE rk <= 5"
)


@register(
    "sim_tfidf_cosine",
    # Sparse retrieval with an exact-integer core: idf is grid-floored
    # at 1e-4 (text_unigram_logprob's ln() recipe) so every weight is
    # a BIGINT (tf x idf_scaled), dots and norms are exact integer
    # sums (max ~4e14 << 2^53 — BIGINT->DOUBLE casts preserve value),
    # and the top-5 cut ranks on floor(cos*1e6+0.5) — an integer grid,
    # so no double ever decides a LIMIT.
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS dfc FROM tf GROUP BY token),
    nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    w AS (
      SELECT tf.doc_id, tf.token,
             tf.c * CAST(floor(ln(CAST(nn.n AS DOUBLE) / df.dfc) * 10000) AS BIGINT) AS w
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN nn
    ),
    norm2 AS (SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY doc_id),
    dots AS (
      SELECT q.doc_id AS q_doc, d.doc_id AS doc_id, SUM(q.w * d.w) AS dot
      FROM w q JOIN w d ON d.token = q.token
      WHERE q.doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)
        AND d.doc_id <> q.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT dots.q_doc, dots.doc_id,
             CAST(floor((CAST(dots.dot AS DOUBLE)
                         / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE))))
                        * 1000000 + 0.5) AS BIGINT) AS cos_grid
      FROM dots
      JOIN norm2 nq ON nq.doc_id = dots.q_doc
      JOIN norm2 nd ON nd.doc_id = dots.doc_id
    )
    SELECT q_doc, rk, doc_id, CAST(cos_grid AS DOUBLE) / 1000000 AS cosine
    FROM (
      SELECT q_doc, doc_id, cos_grid,
             row_number() OVER (PARTITION BY q_doc
                                ORDER BY cos_grid DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
)
def sim_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine retrieval: every 50th doc queries the
    corpus through an inverted index (token-keyed join of weight
    postings), top-5 neighbors each — the lexical twin of the dense
    sim_knn_cosine, and THE shape sparse similarity ships at scale
    (BM25/TF-IDF retrieval, candidate generation for dedup).

    Scale shape: the inverted index partitions by token, so partial
    dot products accumulate where the postings live and only
    (query, doc) partial sums shuffle — never full vectors. The tiny
    query side broadcasts. On a hub token (a stopword) the postings
    list explodes quadratically; production prunes df > 30%N tokens —
    this fixture's 31-word vocabulary makes every token a hub, so the
    honest demo keeps them and documents the cut instead of faking
    selectivity.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tf = spark.sql(_TFIDF_TF_SQL, docs=docs).localCheckpoint(eager=False)
    w = spark.sql(_TFIDF_W_SQL, tf=tf).localCheckpoint(eager=False)
    return spark.sql(_TFIDF_SQL, w=w)


MMR_K = 10
MMR_LAMBDA = 0.7           # relevance weight; 1-λ penalizes redundancy
_MMR_GRID = 10**6          # per-similarity integer grid
_MMR_MS_INIT = -2_000_000  # below any grid similarity (dot >= -1)


def _mmr_oracle() -> str:
    """Greedy MMR unrolled: round i picks the candidate maximizing
    0.7·rel − 0.3·max-sim-to-selected (similarities grid-floored to
    exact integers so the argmax compares identical doubles), then
    folds the pick's similarity into every survivor's running max."""
    ctes = [
        f"""c0 AS MATERIALIZED (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
             CAST(floor(list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                                         CAST(e.embedding AS DOUBLE[]))
                        * {_MMR_GRID}) AS BIGINT) AS rel_g,
             CAST({_MMR_MS_INIT} AS BIGINT) AS ms_g
      FROM embeddings e,
           (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
    )"""
    ]
    for i in range(1, MMR_K + 1):
        ctes.append(f"""
    s{i} AS MATERIALIZED (
      SELECT vec_id, emb, rel_g FROM c{i - 1}
      ORDER BY {MMR_LAMBDA} * rel_g - {round(1 - MMR_LAMBDA, 10)} * ms_g
               DESC, vec_id
      LIMIT 1
    ),
    c{i} AS MATERIALIZED (
      SELECT c.vec_id, c.emb, c.rel_g,
             GREATEST(c.ms_g,
                      CAST(floor(list_dot_product(c.emb, s.emb)
                                 * {_MMR_GRID}) AS BIGINT)) AS ms_g
      FROM c{i - 1} c, s{i} s WHERE c.vec_id <> s.vec_id
    )""")
    picks = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, vec_id, "
        f"CAST(rel_g AS DOUBLE) / {_MMR_GRID} AS rel FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return "WITH " + ",".join(ctes) + " " + picks


def _grid_sims(E, v):
    """floor(E·v · 1e6) per row of E, each dot folded left to right
    over the dimensions — the multiply-add order of
    :func:`bulk_cosine_tau_pairs` (and of :func:`dot`), so every grid
    value is bit-identical to the oracle's ``list_dot_product``
    floor."""
    acc = np.zeros(len(E), dtype=np.float64)
    for d in range(E.shape[1]):
        acc = acc + E[:, d] * v[d]
    return np.floor(acc * _MMR_GRID).astype(np.int64)


def _mmr_picks(vec_ids, E, q, k: int, lam: float) -> list[tuple[int, int, float]]:
    """Greedy MMR over candidates ``vec_ids`` with embeddings ``E``
    (n × d float64) for query vector ``q``: ``[(rank, vec_id, rel)]``,
    at most k rows (fewer when n < k, as the oracle's LIMIT 1 CTEs
    return).

    Round i picks argmax (score DESC, vec_id ASC) of
    score = λ·double(rel_g) − (1−λ)·double(ms_g), drops the pick by
    vec_id, and folds its grid similarity into every survivor's
    running max ms_g — the oracle's s{i}/c{i} CTE pair, step for step.
    """
    mu = round(1 - lam, 10)
    rel_g = _grid_sims(E, q)
    ms_g = np.full(len(vec_ids), _MMR_MS_INIT, dtype=np.int64)
    picks = []
    for rank in range(1, k + 1):
        if len(vec_ids) == 0:
            break
        score = lam * rel_g.astype(np.float64) - mu * ms_g.astype(np.float64)
        tied = np.flatnonzero(score == score.max())
        i = tied[np.argmin(vec_ids[tied])]
        picks.append((rank, int(vec_ids[i]), int(rel_g[i]) / _MMR_GRID))
        pick = E[i]
        keep = vec_ids != vec_ids[i]
        vec_ids, E, rel_g = vec_ids[keep], E[keep], rel_g[keep]
        ms_g = np.maximum(ms_g[keep], _grid_sims(E, pick))
    return picks


def _mmr_arrow(batches):
    """mapInArrow body: the whole (vec_id, embedding) table arrives in
    one task; vec_id 0 is the query, every other row a candidate."""
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    if tbl.num_rows == 0:
        return
    ids = tbl.column("vec_id").to_numpy()
    E = _list_matrix(tbl.column("embedding").combine_chunks())
    is_q = ids == 0
    if not is_q.any():
        return
    picks = _mmr_picks(ids[~is_q], E[~is_q], E[is_q][0], MMR_K, MMR_LAMBDA)
    if picks:
        rank, vec_id, rel = zip(*picks)
        yield pa.RecordBatch.from_arrays(
            [pa.array(rank, pa.int64()), pa.array(vec_id, pa.int64()),
             pa.array(rel, pa.float64())],
            ["rank", "vec_id", "rel"],
        )


@register("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein '98): greedy
    top-k that trades relevance against redundancy — each round picks
    argmax λ·rel(v) − (1−λ)·max_{s∈S} sim(v, s). The retrieval-side
    twin of the dedup keys: where MinHash removes near-duplicates
    from the corpus, MMR removes them from a RESULT LIST (RAG context
    packing, search diversification).

    Determinism: every similarity is grid-floored to an exact 1e-6
    integer before any comparison, so the per-round argmax (score
    DESC, vec_id) compares identical doubles on both engines; the
    oracle replays all K rounds as unrolled MATERIALIZED CTEs.

    Scale shape: greedy MMR is sequential in k BY DEFINITION — the
    round-i pick depends on rounds 1..i−1 — and it runs on a candidate
    PAGE, not a corpus: at 100 TB you first cut candidates to a few
    hundred with sim_knn_* (ANN), then run MMR on that page, k·|page|
    work. A page fits one task, so the page is coalesced to one
    partition and one Arrow map runs all k rounds in numpy
    (:func:`_mmr_picks`), the per-partition shape REPOSE argues for
    over driver-coordinated global passes. The build runs no job; the
    query is one job at execution. The former driver loop (a 1-row
    argmax collect per round plus a checkpoint every third round)
    made 15 eager jobs per build: 1.6–2.1 s of build against
    0.25–0.35 s of execution at sf0.1 on 4 cores.
    """
    e = load_tables(spark, sf_dir)["embeddings"]
    return (
        e.select("vec_id", "embedding")
        .coalesce(1)
        .mapInArrow(_mmr_arrow, "rank bigint, vec_id bigint, rel double")
    )


_EMB_GRID = 10**6


@register(
    "embedding_quality_audit",
    # Embedding-table health gate: NaN/Inf cells, exact-zero cells,
    # norm distribution (discrete quantiles of the grid-int squared
    # norm), and per-dimension variance concentration (trace + max
    # dim's share — a collapsed dimension or a dominating one both
    # mean the encoder is sick). Every statistic from exact integer
    # moments on the 1e-6 grid.
    oracle=f"""
    WITH cells AS (
      SELECT e.vec_id, u.dim,
             CAST(floor(u.v * {_EMB_GRID}) AS BIGINT) AS g,
             CASE WHEN isnan(u.v) OR NOT isfinite(u.v) THEN 1 ELSE 0 END AS bad,
             CASE WHEN u.v = 0.0 THEN 1 ELSE 0 END AS zero
      FROM embeddings e,
           LATERAL (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS v,
                           generate_subscripts(e.embedding, 1) AS dim) u
    ), per_vec AS (
      SELECT vec_id, CAST(SUM(g * g) AS BIGINT) AS norm2_g,
             CAST(SUM(bad) AS BIGINT) AS n_bad, CAST(SUM(zero) AS BIGINT) AS n_zero
      FROM cells GROUP BY vec_id
    ), per_dim AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s, CAST(SUM(g * g) AS BIGINT) AS s2
      FROM cells GROUP BY dim
    ), dim_var AS (
      SELECT dim,
             (CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
               / (CAST(n AS DOUBLE) * n) AS var_g2
      FROM per_dim
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_vec) AS n_vectors,
           (SELECT CAST(SUM(n_bad) AS BIGINT) FROM per_vec) AS n_nonfinite_cells,
           (SELECT CAST(SUM(n_zero) AS BIGINT) FROM per_vec) AS n_zero_cells,
           (SELECT CAST(MIN(norm2_g) AS BIGINT) FROM per_vec) AS norm2_min,
           (SELECT CAST(quantile_disc(norm2_g, 0.5) AS BIGINT) FROM per_vec)
             AS norm2_p50,
           (SELECT CAST(MAX(norm2_g) AS BIGINT) FROM per_vec) AS norm2_max,
           floor((SELECT SUM(var_g2) FROM dim_var) / {_EMB_GRID} / {_EMB_GRID}
                 * 1000000 + 0.5) / 1000000 AS var_trace,
           floor((SELECT MAX(var_g2) FROM dim_var)
                 / (SELECT SUM(var_g2) FROM dim_var) * 10000 + 0.5) / 10000
             AS max_dim_var_share
    """,
)
def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit — the gate an ANN index build or
    training run should demand before trusting a vector column:
    non-finite cells (a NaN poisons every dot product it touches),
    exact-zero cells (dead dimensions / failed encodes), the squared-
    norm distribution (collapsed or exploding norms break cosine
    assumptions), and variance concentration across dimensions (one
    dimension holding most of the variance = the encoder collapsed;
    the max-share statistic reads it off directly).

    Exactness: cells land on the 1e-6 grid; norms and per-dim moments
    are exact BIGINT sums; quantiles are DISCRETE; the two variance
    readouts are identical double expressions of exact integers.
    Scale shape: one posexplode + two hash aggregates (vec grain, dim
    grain) — dim-grain output is 64 rows regardless of corpus size.
    """
    e = load_tables(spark, sf_dir)["embeddings"]
    cells = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim0", "v")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("v"),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v") * _EMB_GRID).cast("bigint").alias("g"),
        F.when(F.isnan("v") | ~F.col("v").between(-1e308, 1e308), 1)
        .otherwise(0)
        .alias("bad"),
        F.when(F.col("v") == 0.0, 1).otherwise(0).alias("zero"),
    )
    per_vec = cells.groupBy("vec_id").agg(
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("norm2_g"),
        F.sum("bad").cast("bigint").alias("n_bad"),
        F.sum("zero").cast("bigint").alias("n_zero"),
    )
    per_dim = cells.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("s2"),
    )
    dim_var = per_dim.select(
        (
            (F.col("n").cast("double") * F.col("s2") - F.col("s").cast("double") * F.col("s"))
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("var_g2")
    )
    vec_stats = per_vec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("n_bad").cast("bigint").alias("n_nonfinite_cells"),
        F.sum("n_zero").cast("bigint").alias("n_zero_cells"),
        F.min("norm2_g").cast("bigint").alias("norm2_min"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY norm2_g)")
        .cast("bigint")
        .alias("norm2_p50"),
        F.max("norm2_g").cast("bigint").alias("norm2_max"),
    )
    var_stats = dim_var.agg(
        (
            F.floor(
                F.sum("var_g2") / _EMB_GRID / _EMB_GRID * 1000000 + 0.5
            )
            / 1000000
        ).alias("var_trace"),
        (
            F.floor(F.max("var_g2") / F.sum("var_g2") * 10000 + 0.5) / 10000
        ).alias("max_dim_var_share"),
    )
    return vec_stats.crossJoin(F.broadcast(var_stats))


_SC_GRID = 10**6


def _sc_fold_dot(a: str, b: str) -> str:
    """DuckDB left fold over 64 dims matching Spark's F.aggregate."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, 65), i -> {a}[i] * {b}[i])), "
        "(x, y) -> x + y)"
    )


@register(
    "embedding_source_centroids",
    # Domain geometry: per-source mean embedding (grid-floored
    # integer-sum means — the _refine_centroids determinism recipe)
    # and the pairwise cosine between source centroids. High cosine =
    # sources the encoder can't tell apart; low = genuinely distinct
    # domains. Sources come from the caption join (doc_id = vec_id).
    oracle=f"""
    WITH cells AS (
      SELECT d.source, u.dim, CAST(u.v AS DOUBLE) AS v
      FROM embeddings e
      JOIN documents d ON d.doc_id = e.vec_id,
      LATERAL (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS v,
                      generate_subscripts(e.embedding, 1) AS dim) u
    ), means AS (
      SELECT source, dim,
             (CAST(SUM(CAST(floor(v * {_SC_GRID}) AS BIGINT)) AS DOUBLE)
              / {_SC_GRID}.0) / COUNT(*) AS m
      FROM cells GROUP BY source, dim
    ), cents AS (
      SELECT source, list(m ORDER BY dim) AS c FROM means GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           floor({_sc_fold_dot('a.c', 'b.c')}
                 / sqrt({_sc_fold_dot('a.c', 'a.c')})
                 / sqrt({_sc_fold_dot('b.c', 'b.c')})
                 * 10000 + 0.5) / 10000 AS centroid_cosine
    FROM cents a JOIN cents b ON a.source < b.source
    """,
)
def embedding_source_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain geometry readout: the mean embedding per SOURCE (via the
    caption join) and the cosine between every source-centroid pair.
    Two sources whose centroids sit at cosine ≈ 1 are indistinguishable
    to the encoder — mixing weights between them are cosmetic; a
    source at low cosine to everything is the genuinely novel domain.
    The embedding-space companion of corpus_js_divergence's token view
    and mix_source_overlap_matrix's fingerprint view.

    Exactness: per-dim means are 1e-6-grid integer sums (order-free);
    dots and norms are the shared fold-order expressions, sqrt is
    IEEE-exact, and the cosine lands on a 4dp grid. Scale: one
    (source, dim) hash agg (|sources|×64 cells), then a |sources|²
    tiny pair join.
    """
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    e = load_tables(spark, sf_dir)["embeddings"]
    cells = (
        e.join(d, e.vec_id == d.doc_id)
        .select(
            "source", F.posexplode(F.col("embedding")).alias("dim0", "v0")
        )
        .select(
            "source",
            (F.col("dim0") + 1).alias("dim"),
            F.col("v0").cast("double").alias("v"),
        )
    )
    mean = (
        F.sum(F.floor(F.col("v") * _SC_GRID).cast("long")).cast("double")
        / F.lit(float(_SC_GRID))
    ) / F.count(F.lit(1))
    means = cells.groupBy("source", "dim").agg(mean.alias("m"))
    cents = means.groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s.getField("m"),
        ).alias("c")
    )
    a = cents.select(F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = cents.select(F.col("source").alias("source_b"), F.col("c").alias("cb"))
    fold = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, t: acc + t
    )
    # broadcast the |sources|-row side: the pair join is inherently
    # theta (<) over a tiny aggregated grain — BNLJ on a broadcast is
    # the right plan, never a shuffled cartesian
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    return pairs.select(
        "source_a",
        "source_b",
        (
            F.floor(
                fold(F.col("ca"), F.col("cb"))
                / F.sqrt(fold(F.col("ca"), F.col("ca")))
                / F.sqrt(fold(F.col("cb"), F.col("cb")))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("centroid_cosine"),
    )


_INT8_KNN_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
  FROM embeddings
), qz AS (
  SELECT vec_id, mn, (mx - mn) / 255 AS scale,
         CASE WHEN mx > mn THEN
           list_transform(embedding, x ->
             floor((CAST(x AS DOUBLE) - mn) * 255 / (mx - mn) + 0.5))
         ELSE list_transform(embedding, x -> 0.0) END AS codes
  FROM base
), q AS (
  SELECT vec_id AS q_id, mn AS q_mn, scale AS q_s, codes AS q_codes,
         CAST(list_aggregate(codes, 'sum') AS DOUBLE) AS q_sum
  FROM qz WHERE vec_id % 50 = 0 AND vec_id < 500
), c AS (
  SELECT vec_id, mn AS c_mn, scale AS c_s, codes AS c_codes,
         CAST(list_aggregate(codes, 'sum') AS DOUBLE) AS c_sum,
         CAST(len(codes) AS DOUBLE) AS dim
  FROM qz
), scored AS (
  SELECT q.q_id, c.vec_id,
         ((q_mn * c_mn) * dim)
         + ((q_mn * c_s) * c_sum)
         + ((c_mn * q_s) * q_sum)
         + ((q_s * c_s) * list_dot_product(
               CAST(q_codes AS DOUBLE[]), CAST(c_codes AS DOUBLE[])))
           AS sim
  FROM q JOIN c ON c.vec_id != q.q_id
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (
           PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT q_id, vec_id,
       floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim, rnk
FROM ranked WHERE rnk <= {TOP_K}
"""


def _int8_struct(emb_col: str):
    """One-pass per-vector int8 quantization as a struct column:
    (codes array<double of integers>, mn, scale, sum_codes, dim) — the
    min/max bind ONCE through a 1-element struct transform (the
    element-wise lambda referencing array_min directly would re-scan
    the vector per element, the dedup.shingles O(dim²) pathology).
    Codes stay DOUBLE-typed integer values: every term of the
    dequantized dot is then exactly representable (≤ 255²·dim), so
    Spark and DuckDB compute bit-identical per-pair scores."""
    ctx = F.array(
        F.struct(
            F.col(emb_col).alias("emb"),
            F.array_min(emb_col).cast("double").alias("mn"),
            F.array_max(emb_col).cast("double").alias("mx"),
        )
    )

    def mk(s):
        mn, mx = s["mn"], s["mx"]
        codes = F.when(
            mx > mn,
            F.transform(
                s["emb"],
                lambda x: F.floor(
                    (x.cast("double") - mn) * 255 / (mx - mn) + F.lit(0.5)
                ).cast("double"),
            ),
        ).otherwise(F.transform(s["emb"], lambda x: F.lit(0.0)))
        return F.struct(
            codes.alias("codes"),
            mn.alias("mn"),
            ((mx - mn) / 255).alias("scale"),
        )

    return F.element_at(F.transform(ctx, mk), 1)


@register("sim_knn_int8", oracle=_INT8_KNN_ORACLE)
def sim_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine search over INT8-QUANTIZED embeddings — the memory
    tier between brute-force float and the ANN families: per-vector
    affine scalar quantization (the embedding_quantize_int8 codec)
    shrinks the corpus 4×, and the dequantized dot product collapses
    to a CLOSED FORM over integer aggregates —

        sim = mnq·mne·d + mnq·se·Σce + mne·sq·Σcq + sq·se·(cq·ce)

    so the per-pair work is ONE integer dot product of the code arrays
    plus four scalar multiplies (the trick every int8 vector index
    uses: the correction terms are per-VECTOR, precomputed once). The
    plan is the float tier's: broadcast the 10 fixed queries, score
    JVM-side with zip_with/aggregate (integer sums — exactly
    representable in doubles, so both engines agree bit-for-bit), rank
    per query with a vec_id tie-break. At 100 TB the quantized corpus
    is what actually fits in executor memory; recall vs the float tier
    is pinned in pytest (test_similarity.py)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    z = e.select("vec_id", _int8_struct("embedding").alias("z"))
    z = z.select(
        "vec_id",
        F.col("z.codes").alias("codes"),
        F.col("z.mn").alias("mn"),
        F.col("z.scale").alias("scale"),
        F.aggregate(
            "z.codes", F.lit(0.0), lambda acc, x: acc + x
        ).alias("sum_codes"),
        F.size("z.codes").cast("double").alias("dim"),
    )
    q = z.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("q_id"),
        F.col("codes").alias("q_codes"),
        F.col("mn").alias("q_mn"),
        F.col("scale").alias("q_s"),
        F.col("sum_codes").alias("q_sum"),
    )
    joined = z.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    code_dot = F.aggregate(
        F.zip_with("q_codes", "codes", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = (
        (F.col("q_mn") * F.col("mn")) * F.col("dim")
        + (F.col("q_mn") * F.col("scale")) * F.col("sum_codes")
        + (F.col("mn") * F.col("q_s")) * F.col("q_sum")
        + (F.col("q_s") * F.col("scale")) * code_dot
    )
    scored = joined.select("q_id", "vec_id", sim.alias("sim"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", pround("sim").alias("sim"), "rnk")
    )
