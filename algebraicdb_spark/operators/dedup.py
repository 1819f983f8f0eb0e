"""§2.10 deduplication operators for LLM-training-data pipelines.

The tiers, each one scale class up:
  - exact: hash-groupBy on normalized text. One shuffle of (hash) keys.
  - near (exact Jaccard): shingle-explode → inverted-index self-join →
    |∩|/|∪|. Exact but candidate pairs grow with shared-shingle
    frequency; ``jaccard_pairs_capped`` adds the stop-shingle DF cap
    (same trick CCNet/RefinedWeb pipelines use) with exact rerank —
    recall proven equal in tests.
  - MinHash+LSH banding: the 100 TB path — constant-size signatures,
    candidates only within equal band buckets; repartition by band key
    bounds skew. Hash fns are md5-derived 60-bit ints (never Python
    hash()) — deterministic AND engine-portable, so the key is
    value-hash-verified against the DuckDB oracle.
  - SimHash: 60-bit fingerprint, hamming-bucket join on 15-bit
    chunks; cheapest signature, good for "same doc, tiny edits".
  - components: pairwise tiers feed ``connected_components`` (iterative
    min-label propagation) so A~B~C chains resolve to ONE keep-doc.

Quality (recall vs brute force) is asserted in tests/test_dedup.py;
every tier, including MinHash-LSH and SimHash, is value-hash-verified
against its DuckDB oracle (md5-based hashing is engine-portable).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from algebraicdb_spark.functions.rounding import pround, pround_sql
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables, spread

# -- shared text canonicalization (one definition for every dedup op) --

def canonical_text(col):
    """lower + collapse whitespace — the normalization all tiers share."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def shingles(col, n: int = 3):
    """Word n-gram shingles of the canonical text (distinct per doc).

    The split-words array is bound ONCE through a 1-element
    ``transform`` lambda: naming it `w` makes Catalyst evaluate the
    split/regexp a single time per row. Referencing the split
    expression directly inside the per-index lambda instead would
    re-run regexp_replace+split for every element access — measured
    27x slower (16.6s -> 0.6s for 5k docs at sf0.1).
    """

    def grams(w):
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        g = F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
        )
        return F.when(F.size(w) >= n, F.array_distinct(g)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(
        F.transform(F.array(F.split(canonical_text(col), " ")), grams), 1
    )


@register(
    "dedup_exact",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ctext
      FROM documents
    ), g AS (
      SELECT ctext, MIN(doc_id) AS keep_id, COUNT(*) AS grp_n
      FROM canon GROUP BY ctext
    )
    SELECT CAST(SUM(grp_n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           CAST(SUM(grp_n) - COUNT(*) AS BIGINT) AS n_removed,
           CAST(SUM(keep_id) AS BIGINT) AS kept_checksum
    FROM g
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on canonical text; keeps min doc_id per group.

    Fixtures have no exact dups (invariant) → n_removed = 0, but the
    checksum of kept ids proves the keep-policy, not just the count.
    At scale: groupBy(xxhash64(ctext)) first if texts are huge, then
    resolve collisions within groups — here texts are small enough to
    group directly.
    """
    d = load_tables(spark, sf_dir)["documents"]
    canon = d.select("doc_id", canonical_text("text").alias("ctext"))
    groups = canon.groupBy("ctext").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("grp_n")
    )
    return groups.agg(
        F.sum("grp_n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("grp_n") - F.count(F.lit(1))).alias("n_removed"),
        F.sum("keep_id").alias("kept_checksum"),
    )


JACCARD_TAU = 0.5

_JACCARD_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS r
  FROM documents
), toks AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(r) - 1),
                                      i -> r[i] || ' ' || r[i+1] || ' ' || r[i+2]))
           AS shingles
  FROM raw
), exploded AS (
  SELECT doc_id, unnest(shingles) AS tok FROM toks
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM exploded a JOIN exploded b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sized AS (
  SELECT doc_id, len(shingles) AS n_toks FROM toks
)
SELECT doc_a, doc_b,
       floor(CAST(CAST(n_common AS DOUBLE) /
             (sa.n_toks + sb.n_toks - n_common) AS DOUBLE) * 10000 + 0.5) / 10000 AS jaccard
FROM pairs
JOIN sized sa ON sa.doc_id = doc_a
JOIN sized sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_toks + sb.n_toks - n_common) >= {JACCARD_TAU}
"""


@register("dedup_near_jaccard", oracle=_JACCARD_ORACLE)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ τ via inverted-index self-join.

    explode(shingles) → equi-join on shingle → count common → J =
    |∩|/(|A|+|B|−|∩|). No cross-join anywhere: candidate pairs only
    arise from shared shingles, which are sparse (fixture avg
    cross-pair shingle-J is 0.0009 vs 0.5+ for true near-dups). At
    100 TB use :func:`jaccard_pairs_capped` — same result, with the
    stop-shingle DF cap bounding hot-shingle candidate blowup
    (recall proven equal in test_df_cap_keeps_recall).
    """
    d = load_tables(spark, sf_dir)["documents"]
    # shingle once: toks feeds sized + both inverted-index sides
    # (spread: the shingle transform otherwise runs inside the
    # single-task fixture-scan stage — guide §2.5; cluster no-op)
    toks = spread(d).select(
        "doc_id", shingles(F.col("text"), 3).alias("tokens")
    ).localCheckpoint(eager=False)
    sized = toks.select("doc_id", F.size("tokens").alias("n_toks"))
    exploded = toks.select("doc_id", F.explode("tokens").alias("tok"))
    # shared-shingle pairs enumerate inverted-index-at-a-time (guide
    # §2.3/2.4): group each shingle's doc set into a sorted array —
    # ONE shuffle keyed by the shingle string — and explode the
    # doc_a < doc_b pairs map-side. The former self-join shuffled the
    # long shingle strings TWICE into a sort-merge join; per-doc
    # shingles are distinct (array_distinct in shingles()), so the
    # pair count per (doc_a, doc_b) is the shared-shingle count
    # either way.
    docsets = exploded.groupBy("tok").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    pairs = (
        docsets.selectExpr(
            "inline(flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> "
            "struct(x AS doc_a, y AS doc_b)))))"
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sized.select(F.col("doc_id").alias("doc_a"), F.col("n_toks").alias("na"))
    sb = sized.select(F.col("doc_id").alias("doc_b"), F.col("n_toks").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # NO broadcast hint on sa/sb: they are per-doc tables that grow
    # with the corpus — AQE broadcasts them while they're small and
    # shuffle-joins at 100 TB; a hard hint would OOM the driver there
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_TAU)
        .select("doc_a", "doc_b", pround(jac).alias("jaccard"))
    )


N_MINHASH = 32  # permutations
N_BANDS = 16  # → 2 rows per band; P(candidate | J=0.5) = 1-(1-0.25)^16 ≈ 0.99


def _mh(seed_expr, s):
    """Cross-engine 60-bit hash: first 15 hex chars of md5, as BIGINT.

    Identical in Spark (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
    (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``) — this is what lets
    the MinHash/SimHash keys be value-hash-verified against the oracle
    instead of rows-only. 60 bits < 2^63: always positive, no overflow.
    """
    return F.conv(F.substring(F.md5(F.concat(seed_expr, s)), 1, 15), 16, 10).cast(
        "long"
    )


# Universal-hash permutation family h_i(x) = (a_i*x + b_i) mod P over a
# single md5-derived base hash per shingle. One md5 per shingle instead
# of N_MINHASH — measured 6x faster at sf0.1 — and the affine math is
# plain positive-BIGINT arithmetic, identical in Spark and DuckDB, so
# the key stays value-hash-verified. P = 2^31-1 keeps every product
# under 2^62 (no overflow on either engine); a_i forced odd.
MH_P = 2_147_483_647
MH_AB = tuple(
    (((1103515245 * (i + 1) + 12345) % MH_P) | 1, (69069 * (i + 1) + 362437) % MH_P)
    for i in range(N_MINHASH)
)

_MH_PERM_VALUES = ",\n         ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MH_AB)
)

# Shared CTE body (everything through the exact-reranked candidate
# pairs in `rer`) — used by the MinHash pairs oracle, the
# minhash→components capstone oracle, the LSH-tier threshold sweep
# (`sim_dedup_threshold_sweep`), and — parameterized by `source` —
# the MinHash-tier dedup-funnel oracle in pipeline.py. `source` must
# expose (doc_id, text); canonicalization inside is idempotent so a
# pre-canonicalized text column is fine.
def minhash_ctes(source: str = "documents") -> str:
    return f"""raw AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS r
  FROM {source}
), toks AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(r) - 1),
                                      i -> r[i] || ' ' || r[i+1] || ' ' || r[i+2]))
           AS shingles
  FROM raw
), tok AS (
  SELECT doc_id, unnest(shingles) AS s FROM toks
), perms(i, a, b) AS (
  VALUES {_MH_PERM_VALUES}
), base AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('s:' || s), 1, 15) AS BIGINT) % {MH_P} AS hb
  FROM tok
), mh AS (
  SELECT doc_id, p.i AS i, MIN((hb * p.a + p.b) % {MH_P}) AS h
  FROM base CROSS JOIN perms p
  GROUP BY doc_id, p.i
), sig AS (
  SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, rb.range AS band_idx,
         CAST('0x' || substr(md5(CAST(sig[2*rb.range + 1] AS VARCHAR) || ',' ||
                                 CAST(sig[2*rb.range + 2] AS VARCHAR)), 1, 15)
              AS BIGINT) AS band_hash
  FROM sig CROSS JOIN range(16) rb
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), rer AS (
  SELECT doc_a, doc_b,
         floor(CAST(len(list_intersect(ta.shingles, tb.shingles)) AS DOUBLE)
               / (len(ta.shingles) + len(tb.shingles)
                  - len(list_intersect(ta.shingles, tb.shingles)))
               * 10000 + 0.5) / 10000 AS jaccard
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b
)"""

_MINHASH_ORACLE = f"""
WITH {minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM rer WHERE jaccard >= {JACCARD_TAU}
"""


def shingle_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens): distinct 3-gram shingles of canonical text —
    the PURE transform, stream-safe (no checkpoint). Both tiers must
    tokenize identically or LSH parity silently breaks, so the batch
    wrapper (``minhash_token_arrays``) and the streaming tier
    (``streaming.engine.lsh_candidates_tws``) share THIS function.

    Docs under 3 tokens have no shingles: array_min over the empty
    array would NULL every signature slot and concat_ws would then
    collapse ALL such docs into one identical band bucket (m² bogus
    candidate pairs). The oracle drops them at the unnest; drop them
    here for designed (not coincidental) parity.

    The guard filters on the WORD COUNT of the canonical text, not on
    ``size(tokens)``: a filter over the computed shingle column gets
    pushed below the projection and re-evaluates the whole shingle
    transform per row (guide §4.4's duplication, built-in edition —
    measured 0.59 → 0.43 s for the tokenize stage at sf0.1). The two
    predicates are equivalent: ``shingles`` returns a non-empty array
    exactly when the canonical split has ≥ 3 words.
    """
    wc = F.size(F.split(canonical_text(F.col("text")), " "))
    return docs.filter(wc >= 3).select(
        "doc_id", shingles(F.col("text"), 3).alias("tokens")
    )


def minhash_token_arrays(docs: DataFrame) -> DataFrame:
    """Batch-side shingle table: ``shingle_tokens`` checkpointed.

    Every batch caller reads this ≥3 times (signature build + both
    rerank sides); uncached, the regex+shingle transform re-ran per
    consumer. Tokenize ONCE — the materialized shingle table is what a
    production dedup pipeline persists anyway. Lazy: plan-only callers
    pay nothing. (Streams can't checkpoint — they use shingle_tokens.)

    ``spread`` first (guide §2.5): the canonicalize + shingle + every
    downstream signature hash otherwise runs inside the single-task
    fixture-scan stage (measured 2.9 s of 1-core md5 work inside
    dedup_minhash_lsh at sf0.1); on multi-split cluster inputs it is a
    no-op.
    """
    return shingle_tokens(spread(docs)).localCheckpoint(eager=False)


def _mh_sql(seed: str, x: str) -> str:
    """SQL-text twin of :func:`_mh` — identical expression tree
    (concat → md5 → substring(1,15) → conv base16→10 → BIGINT), so the
    values are bit-equal to the Column form it replaces."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}', {x})), 1, 15), 16, 10) AS BIGINT)"
    )


# Pre-rendered SQL for the signature + banding selects (round 14,
# guide §1.2 "per-task work" applied to the DRIVER: the Column-object
# form issued ~5,000 py4j round-trips per query BUILD — 1.7 s of
# socket latency before any job ran, measured by cProfile. The math is
# unchanged and value-hash-verified; rendering it as three selectExpr
# strings makes the build a handful of py4j calls.)
_MH_HS_SQL = f"transform(tokens, s -> {_mh_sql('s:', 's')} % {MH_P}) AS hs"
_MH_SIG_SQL = (
    "array("
    + ", ".join(
        f"array_min(transform(hs, h -> (h * {a} + {b}) % {MH_P}))" for a, b in MH_AB
    )
    + ") AS sig"
)
_MH_ROWS_PER_BAND = N_MINHASH // N_BANDS
_MH_BANDS_SQL = (
    "posexplode(array("
    + ", ".join(
        _mh_sql(
            "",
            "concat_ws(',', "
            + ", ".join(
                f"CAST(sig[{b * _MH_ROWS_PER_BAND + r}] AS STRING)"
                for r in range(_MH_ROWS_PER_BAND)
            )
            + ")",
        )
        for b in range(N_BANDS)
    )
    + ")) AS (band_idx, band_hash)"
)


def minhash_banded(toks: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH bucket rows — the banded
    MinHash representation both tiers share: the batch self-join
    (``minhash_candidates``) and the streaming bucket-state processor
    (``streaming.engine.lsh_candidates_tws``) consume it unchanged.

    One md5-derived base hash per shingle, then the N_MINHASH affine
    permutations (MH_AB) in pure integer math — identical on both
    engines, and 32x fewer md5 evaluations than hashing per-slot.
    All expressions are narrow/map-side, so the plan is stream-safe.
    The expression text is pre-rendered at import (see _MH_*_SQL).
    """
    hs = toks.selectExpr("doc_id", _MH_HS_SQL)
    sig = hs.selectExpr("doc_id", _MH_SIG_SQL)
    return sig.selectExpr("doc_id", _MH_BANDS_SQL)


def minhash_candidates(toks: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from banded MinHash.

    The only self-join is on (band_idx, band_hash) — repartitioned to
    spread hot buckets — and it carries ONLY (doc_id, band) rows.
    """
    banded = minhash_banded(toks).repartition("band_idx", "band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_rerank(cands: DataFrame, toks: DataFrame) -> DataFrame:
    """(doc_a, doc_b, toks_a, toks_b, jaccard): exact shingle Jaccard
    on candidate pairs — token arrays join back by doc_id (narrow keys
    only went through the band shuffle; |cands| ≪ |banded| post-dedup).
    """
    joined = cands.join(
        toks.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("toks_a")),
        "doc_a",
    ).join(
        toks.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("toks_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("double")
    return joined.withColumn("jaccard", pround(inter / union))


# The whole batch tier as ONE pre-rendered SQL statement (round 15,
# the _MH_*_SQL device extended from the signature selects to the
# candidate join + rerank): the Column-object form of
# minhash_candidates + minhash_rerank still issued ~500 py4j
# round-trips per BUILD (~0.35 s of driver socket latency before any
# job ran — cProfile on pipeline_dedup_funnel). Every expression is
# byte-identical SQL text (REPARTITION hint == .repartition(cols),
# SELECT DISTINCT == dropDuplicates, pround_sql == pround), so values
# hash-match the former plan. Only the token table and tau are
# substituted at call time.
_MH_PAIRS_TEMPLATE = (
    "WITH hs AS (SELECT doc_id, " + _MH_HS_SQL + " FROM {toks}),\n"
    "sig AS (SELECT doc_id, " + _MH_SIG_SQL + " FROM hs),\n"
    "banded AS (SELECT doc_id, " + _MH_BANDS_SQL + " FROM sig),\n"
    "rep AS (SELECT /*+ REPARTITION(band_idx, band_hash) */\n"
    "        doc_id, band_idx, band_hash FROM banded),\n"
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
    "         FROM rep a JOIN rep b\n"
    "           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash\n"
    "              AND a.doc_id < b.doc_id)\n"
    "SELECT doc_a, doc_b, jaccard FROM (\n"
    "  SELECT c.doc_a, c.doc_b,\n"
    "         " + pround_sql(
        "CAST(size(array_intersect(ta.tokens, tb.tokens)) AS DOUBLE)"
        " / CAST(size(array_union(ta.tokens, tb.tokens)) AS DOUBLE)"
    ) + " AS jaccard\n"
    "  FROM cand c\n"
    "  JOIN {toks} ta ON ta.doc_id = c.doc_a\n"
    "  JOIN {toks} tb ON tb.doc_id = c.doc_b\n"
    ") WHERE jaccard >= {tau}"
)

def minhash_pairs(docs: DataFrame, tau: float = JACCARD_TAU) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs at the MinHash tier:
    banded candidates → exact Jaccard rerank ≥ tau. `docs` is any
    (doc_id, text) DataFrame — the funnel feeds exact-dedup survivors.

    The checkpointed token table binds into one pre-rendered SQL
    statement (_MH_PAIRS_TEMPLATE) as a ``spark.sql`` format argument:
    Spark registers it under a uuid view name and drops that view once
    the statement is analyzed — the returned DataFrame holds the
    resolved relation.
    """
    toks = minhash_token_arrays(docs)
    # float() first: only a numeric literal may reach the SQL text
    return toks.sparkSession.sql(
        _MH_PAIRS_TEMPLATE, toks=toks, tau=float(tau)
    )


def near_dup_pairs(
    docs: DataFrame, tau: float = JACCARD_TAU, exact: bool = False
) -> DataFrame:
    """THE caller-facing near-dup entry point (round-10 verdict item:
    close the last place a user could accidentally run the quadratic
    tier at corpus scale). Returns (doc_a, doc_b, jaccard ≥ tau) over
    any (doc_id, text) DataFrame.

    Default = the MinHash-LSH tier (:func:`minhash_pairs`): banded
    candidate generation bounded by band-key collisions, exact Jaccard
    rerank — the plan that survives 100 TB. ``exact=True`` opts into
    the exhaustive inverted-index tier (:func:`jaccard_pairs_capped`
    with no DF cap), whose candidate stage is quadratic in the
    duplication factor (measured 28.3× at 10× on a replicated fixture,
    SCALE.md §5m) — the oracle/small-N twin, never the default. Both
    tiers emit the SAME exact-Jaccard scores for every surfaced pair;
    exact mode differs only in recall below LSH's collision floor
    (J barely above tau with unlucky bands) and in cost."""
    if exact:
        return jaccard_pairs_capped(docs, tau=tau)
    return minhash_pairs(docs, tau=tau)


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding — the 100 TB near-dup path.

    Per doc: 32 minhashes — one md5-derived base hash per 3-gram
    shingle, permuted through the ``MH_AB`` universal-hash family in
    positive-BIGINT arithmetic (deterministic and engine-portable, so
    the whole pipeline is value-hash-verified against the DuckDB
    oracle, not rows-only) — folded into 16 bands of 2; docs sharing
    any band bucket become candidates; candidates are re-ranked with
    exact shingle Jaccard at the same τ as the exact key.

    Scale design: signatures are constant-size regardless of doc
    length; the only self-join is on (band_idx, band_hash) —
    repartitioned to spread hot buckets — and it carries ONLY
    (doc_id, band) rows: the full shingle arrays are re-joined by
    doc_id AFTER candidate dedup, so the wide payload never rides the
    band shuffle (at 100 TB the token arrays dwarf the 16-byte band
    keys). Exact Jaccard runs ONLY on candidates. Recall vs the exact
    key is asserted in tests/test_dedup.py. Shared plumbing:
    :func:`minhash_pairs` (also consumed by ``pipeline_dedup_funnel``
    and ``sim_dedup_threshold_sweep``).
    """
    d = load_tables(spark, sf_dir)["documents"]
    return minhash_pairs(d)


_SIMHASH_ORACLE = """
WITH raw AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS r
  FROM documents
), toks AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(r) - 1),
                                      i -> r[i] || ' ' || r[i+1] || ' ' || r[i+2]))
           AS shingles
  FROM raw
), tok AS (
  SELECT doc_id, unnest(shingles) AS s FROM toks
), h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('s:' || s), 1, 15) AS BIGINT) AS h
  FROM tok
), votes AS (
  SELECT doc_id, r.range AS i,
         CAST(SUM(CASE WHEN (h >> r.range) & 1 = 1 THEN 1 ELSE -1 END)
              AS BIGINT) AS v
  FROM h CROSS JOIN range(60) r
  GROUP BY doc_id, r.range
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
              AS BIGINT) AS fp
  FROM votes GROUP BY doc_id
), chunks AS (
  SELECT doc_id, fp, rc.range AS chunk_idx,
         (fp >> (15 * rc.range)) & 32767 AS chunk
  FROM fp CROSS JOIN range(4) rc
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.fp AS fp_a, b.fp AS fp_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


_SIMHASH_FP_PD = None


def _simhash_fp_pd(hs_col):
    """Lazy pandas UDF: 60-bit SimHash fingerprint from a shingle-hash
    array — bit i set iff more than half the hashes have bit i set.
    Exact int64 arithmetic (counts, compare, Σ2^i ≤ 2^59), so values
    match the former JVM column tree bit-for-bit; built on first call
    because the decorator needs an active SparkContext."""
    global _SIMHASH_FP_PD
    if _SIMHASH_FP_PD is None:

        @F.pandas_udf("long")
        def _fp(hs: pd.Series) -> pd.Series:
            import numpy as np

            shifts = np.arange(60, dtype=np.int64)
            weights = np.int64(1) << shifts
            out = np.empty(len(hs), dtype=np.int64)
            for j, arr in enumerate(hs):
                h = np.asarray(arr, dtype=np.int64)
                ones = ((h[:, None] >> shifts) & 1).sum(axis=0)
                out[j] = weights[2 * ones > len(h)].sum()
            return pd.Series(out)

        # asNondeterministic (guide §4.4): stops CollapseProject from
        # inlining the UDF into the downstream posexplode generator —
        # a Generate can't host a Python UDF (INTERNAL_ERROR: Cannot
        # evaluate expression) and inlining would also re-evaluate it
        # per chunk. The function is pure; the flag only pins WHERE it
        # evaluates (one ArrowEvalPython below the chunk explode).
        _SIMHASH_FP_PD = _fp.asNondeterministic()
    return _SIMHASH_FP_PD(hs_col)


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit fingerprints over 3-gram shingles,
    candidates via equal 15-bit chunks (Hamming ≤ 3 ⇒ ≥1 of 4 chunks
    equal — pigeonhole), verified by exact popcount.

    Shingle features (not tokens): the fixture's shared vocabulary
    makes token-level fingerprints collide for unrelated docs, while
    shingle sets are sparse. Hashes are md5-derived 60-bit BIGINTs
    (engine-portable, so the key is value-hash-verified against the
    DuckDB oracle); fingerprints are computed PER ROW over the
    shingle-hash array (bit i set iff more than half the hashes have
    bit i set — the sign-of-±1-votes rule, since 2·ones > n ⟺
    Σ±1 > 0) in an Arrow-vectorized exact-integer batch map (see
    _simhash_fp_pd — a pure map stage, still no shuffle: the first
    shuffle at 100 TB is the 4-chunk band join, not fingerprinting).
    Candidate banding and the popcount verification stay JVM-side.
    """
    d = load_tables(spark, sf_dir)["documents"]
    tk = d.select("doc_id", shingles(F.col("text"), 3).alias("tokens")).filter(
        F.size("tokens") > 0
    )
    # the checkpoint is a required plan BARRIER, not (only) a reuse
    # cache: ExtractPythonUDFs cannot lift a pandas UDF whose argument
    # expression contains a lambda (the shingle-hash transform), and
    # the collapsed projection then dies with INTERNAL_ERROR "Cannot
    # evaluate expression: _fp(...)" — behind the RDD scan the
    # argument is a plain attribute and extraction yields one clean
    # ArrowEvalPython node (verified in the plan).
    hs = tk.selectExpr(
        "doc_id", f"transform(tokens, s -> {_mh_sql('s:', 's')}) AS hs"
    ).localCheckpoint(eager=False)
    # Arrow-vectorized fingerprint (round 14, guide §4.2): the former
    # 60 × size(filter(hs, ...)) column tree was ~480 py4j calls to
    # BUILD (2.3 s) and executed as 60 INTERPRETED array scans per row
    # (higher-order functions don't codegen; 4.3 s at sf0.1). The vote
    # rule is pure integer math, so the numpy twin — bit matrix,
    # column sums, 2·ones > n, Σ2^i — is value-identical by
    # construction (int64 throughout, no floats anywhere).
    fingerprint = hs.select("doc_id", _simhash_fp_pd(F.col("hs")).alias("fp"))
    chunks = fingerprint.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), 15 * c).bitwiseAND(F.lit(0x7FFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= 3)


# max pairwise cosine in the fixture is ~0.51 (99.9th pct 0.38):
# 0.40 marks the extreme tail — 59 pairs at sf0.01
COSINE_TAU = 0.40


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor(CAST(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS DOUBLE) * 10000 + 0.5) / 10000 AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[])) >= {COSINE_TAU}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ τ — EXACT,
    with ball-cover cluster blocking instead of an all-pairs scan.

    Plan: (1) assign every vector to its nearest of 16 deterministic
    seed centroids (broadcast argmax — the only nested-loop join is
    against the 16-row centroid table); (2) compute each cluster's
    radius r_c = max dist(member, centroid); (3) prune the 16×16
    centroid-pair table with the triangle bound
    dist(c_i, c_j) ≤ θ + r_i + r_j where θ = √(2−2τ) (vectors are
    L2-normalized, so dist = √(2−2·cos)); (4) generate candidates via
    an EQUI-join on (cluster_a → cluster_b) and exactly re-score +
    τ-filter. The bound is mathematical, not probabilistic: any pair
    with cos ≥ τ lies within θ, so its cluster pair always survives
    pruning — output is identical to the all-pairs oracle at every
    input, unlike LSH banding (measured recall < 1 on this fixture).

    Scale: centroid count grows ~√n (trained, not stride seeds) and
    real embedding corpora cluster tightly, so surviving cluster pairs
    ≪ k² and the equi-join touches a small corpus fraction. Worst case
    (adversarially uniform vectors — this fixture) degrades to all
    pairs, but through a distributed shuffle join keyed on cluster
    ids, never a broadcast nested loop over the corpus.
    """
    import math

    from pyspark.sql.window import Window

    from algebraicdb_spark.operators.similarity import dot

    e = load_tables(spark, sf_dir)["embeddings"]
    # same deterministic seed-id scheme as sim_knn_ivf: ≡7 (mod 31),
    # below 496 → 16 ids present at every SF, no count/limit job
    seeds = e.filter(
        (F.col("vec_id") % 31 == 7) & (F.col("vec_id") < 496)
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    dist = lambda cos_col: F.sqrt(F.greatest(F.lit(0.0), 2.0 - 2.0 * cos_col))  # noqa: E731
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "embedding",
        "c_id",
        dot(F.col("embedding"), F.col("c_emb")).alias("c_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("c_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "c_id", dist(F.col("c_sim")).alias("c_dist"))
        # assigned feeds radius + both join sides; uncached, the
        # corpus argmax (16-way broadcast + window) ran three times —
        # 10 embeddings scans in the plan, 15.8 s at sf0.1. The
        # assignment table is THE ball-cover index every consumer
        # needs; materialize it once (lazy: no job until the query
        # actually executes).
        .localCheckpoint(eager=False)
    )
    radius = assigned.groupBy("c_id").agg(F.max("c_dist").alias("r"))
    theta = math.sqrt(2.0 - 2.0 * COSINE_TAU)
    ca = seeds.select(F.col("c_id").alias("src"), F.col("c_emb").alias("emb_src"))
    cb = seeds.select(F.col("c_id").alias("dst"), F.col("c_emb").alias("emb_dst"))
    # directed 16×16 pair table (tiny), ball-cover pruned; the 1e-9
    # slack absorbs float error in the distance arithmetic
    cpairs = (
        ca.crossJoin(cb)
        .select(
            "src",
            "dst",
            dist(dot(F.col("emb_src"), F.col("emb_dst"))).alias("d_cc"),
        )
        .join(radius.select(F.col("c_id").alias("src"), F.col("r").alias("r_src")), "src")
        .join(radius.select(F.col("c_id").alias("dst"), F.col("r").alias("r_dst")), "dst")
        .filter(F.col("d_cc") <= theta + F.col("r_src") + F.col("r_dst") + 1e-9)
        .select("src", "dst")
    )
    lhs = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("c_id").alias("src"),
    )
    rhs = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("c_id").alias("dst"),
    )
    # each unordered pair scored exactly once: its directed cluster
    # pair (cluster(a) → cluster(b)) appears once, and vec_a < vec_b
    # kills the mirror — no dropDuplicates pass needed.
    #
    # SALTED equi-join (guide §2.5, round 14): the bare dst join has
    # only |clusters| distinct keys, and because the pre-expansion
    # shuffle is a few MB, AQE coalesced it to ONE task — the entire
    # pair fan-out AND the Arrow scoring ran single-threaded (measured:
    # one task, 2M rows). Salting vec_a S ways and replicating the
    # dst side per salt spreads the fan-out over S co-partitioned
    # tasks; the explicit repartition(S, keys) on BOTH sides is reused
    # by the join (co-partitioned, no extra exchange) and — being a
    # user-specified width — is exempt from AQE coalescing. The S×
    # replication of the dst members is strictly smaller than the
    # candidate-pair output it parallelizes; production centroid
    # counts (~√n) make the un-salted key cardinality sufficient, so
    # S stays a constant knob, not a scale dependence.
    S = spark.sparkContext.defaultParallelism
    salts = spark.range(S).select(F.col("id").alias("salt"))
    lhs_salted = (
        lhs.join(F.broadcast(cpairs), "src")
        .withColumn("salt", F.pmod(F.xxhash64("vec_a"), F.lit(S)))
        .repartition(S, "dst", "salt")
    )
    rhs_salted = rhs.crossJoin(F.broadcast(salts)).repartition(S, "dst", "salt")
    cand = lhs_salted.join(rhs_salted, ["dst", "salt"]).filter(
        F.col("vec_a") < F.col("vec_b")
    )
    # bulk rescoring tier (round 14): millions of candidate pairs ×
    # interpreted HOF fold dominated this key (20.8 s); the zero-copy
    # Arrow batch scorer folds in the SAME IEEE op order per pair and
    # applies the τ-filter + pround in-batch (see bulk_cosine_tau_pairs)
    from algebraicdb_spark.operators.similarity import bulk_cosine_tau_pairs

    return bulk_cosine_tau_pairs(cand, COSINE_TAU)


MAX_CC_ITERS = 20  # >= near-dup cluster diameter; fixture clusters are tiny


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Min-label propagation to a fixpoint: (id, component) where
    component = min doc_id reachable — the transitive keep-set the
    pairwise dedup tiers feed into (drop every id != its component).

    Iterative DataFrame algorithm, driver-coordinated: each round is
    one join + groupBy-min; labels are monotonically non-increasing
    integers, so the total strictly decreases until fixpoint (≤ graph
    diameter rounds — near-dup clusters are shallow). Scale notes:
    `localCheckpoint` truncates the exploding lineage each round (use
    a checkpoint dir on a real cluster); the convergence probe is a
    2-long aggregate, not a collect of labels.
    """
    both = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        # materialize ONCE — the loop re-reads the edge list every
        # round, and without this the whole upstream pair derivation
        # (shingle explode + self-join) would re-execute per iteration
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(F.col("doc_id").alias("id"), F.col("doc_id").alias("label"))
    prev = None
    converged = False
    for _ in range(MAX_CC_ITERS):
        msgs = both.join(labels, both.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        )
        labels = (
            labels.unionByName(msgs).groupBy("id").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=False)
        probe = labels.agg(
            F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        cur = (probe.s, probe.n)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # the last probe still changed: labels are NOT a fixpoint, and a
        # silent return would over-retain docs (one component split into
        # several keep-roots). Surface it loudly instead of guessing.
        raise RuntimeError(
            f"connected_components did not converge within {MAX_CC_ITERS} "
            "iterations — component diameter exceeds the cap; raise "
            "MAX_CC_ITERS (or switch to large-star/small-star rounds for "
            "deep chains)"
        )
    return labels


@register(
    "dedup_components",
    # same shingle-Jaccard pair derivation as dedup_near_jaccard, then
    # recursive-CTE reachability -> min reachable id per node
    oracle=f"""
    WITH RECURSIVE raw AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS r
      FROM documents
    ), toks AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(r) - 1),
                                          i -> r[i] || ' ' || r[i+1] || ' ' || r[i+2]))
               AS shingles
      FROM raw
    ), exploded AS (
      SELECT doc_id, unnest(shingles) AS tok FROM toks
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT doc_id, len(shingles) AS n_toks FROM toks
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sized sa ON sa.doc_id = doc_a
      JOIN sized sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_toks + sb.n_toks - n_common)
              >= {JACCARD_TAU}
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    ), comp AS (
      SELECT id, MIN(label) AS label FROM walk GROUP BY id
    ), sizes AS (
      SELECT label, COUNT(*) AS n_members FROM comp GROUP BY label
    )
    SELECT n_members,
           COUNT(*) AS n_components,
           CAST(SUM(label) AS BIGINT) AS root_checksum
    FROM sizes GROUP BY n_members
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs: the keep-set is one
    doc per component (min id), matching how production dedup resolves
    A~B, B~C chains (pairwise dropping would under- or over-delete)."""
    d = load_tables(spark, sf_dir)["documents"]
    pairs = dedup_near_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, d.select("doc_id"))
    return comp.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
    ).groupBy("n_members").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("label").alias("root_checksum"),
    )


_MINHASH_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {minhash_ctes()}, mh_pairs AS (
  SELECT doc_a, doc_b FROM rer WHERE jaccard >= {JACCARD_TAU}
), mc_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM mh_pairs
), walk(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label FROM walk w JOIN mc_edges e ON e.src = w.id
), comp AS (
  SELECT id, MIN(label) AS label FROM walk GROUP BY id
), sizes AS (
  SELECT label, COUNT(*) AS n_members FROM comp GROUP BY label
)
SELECT n_members,
       COUNT(*) AS n_components,
       CAST(SUM(label) AS BIGINT) AS root_checksum
FROM sizes GROUP BY n_members
"""


@register("dedup_minhash_components", oracle=_MINHASH_COMPONENTS_ORACLE)
def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 100 TB near-dedup pipeline as one key: MinHash-LSH
    banded candidates (constant-size signatures, band-bucket equi-join)
    → exact Jaccard rerank → connected components → one keep-doc per
    component. The exact-tier twin is :func:`dedup_components` (same
    component rollup over the inverted-index pairs); this composition
    is the one that ships at scale, and since the banded tier is
    value-hash-verified, the composition is too — the oracle replays
    banding + rerank + a recursive label walk."""
    d = load_tables(spark, sf_dir)["documents"]
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, d.select("doc_id"))
    return (
        comp.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .groupBy("n_members")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("label").alias("root_checksum"),
        )
    )


def jaccard_candidate_pairs(
    docs: DataFrame, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """(doc_a < doc_b, n_common) candidate pairs from shared shingles,
    with the 100 TB guard: ``max_df`` drops shingles that appear in
    more than `max_df` documents BEFORE the self-join (the CCNet/
    RefinedWeb "stop-shingle" trick). A shingle shared by f docs
    contributes O(f²) candidate pairs — capping f bounds the join
    output by |shingles|·max_df² instead of worst-case n².

    Recall caveat (the cap is a high-probability guarantee, NOT an
    absolute one): a true pair is surfaced iff it shares at least one
    rare (df ≤ max_df) shingle. Near-dup pairs share many shingles, so
    in practice they always share rare ones — equality with the uncapped
    result is demonstrated on the fixture (test_df_cap_keeps_recall) —
    but a pair whose shared shingles are ALL corpus-hot (e.g. two
    boilerplate-only docs) is silently never generated. If that failure
    mode matters, route docs whose rare-shingle count falls below a
    floor through MinHash banding (dedup_minhash_lsh), which has no df
    dependence; the Jaccard score itself is always recomputed exactly
    on the full shingle sets for every surfaced candidate.
    """
    toks = docs.select("doc_id", shingles(F.col("text"), n).alias("tokens"))
    exploded = toks.select("doc_id", F.explode("tokens").alias("tok"))
    if max_df is not None:
        rare = (
            exploded.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("tok")
        )
        exploded = exploded.join(rare, "tok")
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_candidate_hits"))
    )


def jaccard_pairs_capped(
    docs: DataFrame, tau: float = JACCARD_TAU, n: int = 3, max_df: int | None = None
) -> DataFrame:
    """Near-dup pairs at τ with DF-capped candidate generation and
    EXACT rerank: candidates come from rare-shingle collisions, but
    the Jaccard that decides the pair uses the full shingle sets."""
    toks = docs.select("doc_id", shingles(F.col("text"), n).alias("tokens"))
    sized = toks.select("doc_id", F.size("tokens").alias("n_toks"))
    cands = jaccard_candidate_pairs(docs, n, max_df).select("doc_a", "doc_b")
    ex = toks.select("doc_id", F.explode("tokens").alias("tok"))
    common = (
        cands.join(ex.select(F.col("doc_id").alias("doc_a"), "tok"), "doc_a")
        .join(ex.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b")), "doc_b")
        .filter(F.col("tok") == F.col("tok_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sized.select(F.col("doc_id").alias("doc_a"), F.col("n_toks").alias("na"))
    sb = sized.select(F.col("doc_id").alias("doc_b"), F.col("n_toks").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= tau)
        .select("doc_a", "doc_b", pround(jac).alias("jaccard"))
    )


@register(
    "dedup_blocked_levenshtein",
    # Levenshtein is a pure integer metric — both engines implement
    # the classic DP, so distances hash-match with no rounding. The
    # (length-bucket, 12-char-prefix) blocking key is computed on the
    # SAME canonical text both sides.
    oracle="""
    WITH c AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ),
    reps AS (
      -- collapse exact duplicates BEFORE fuzzy comparison (standard
      -- pipeline order): a block of k copies would otherwise pay
      -- k^2/2 lev() calls for pairs dedup_exact already owns
      SELECT MIN(doc_id) AS doc_id, t FROM c GROUP BY t
    ),
    b AS (
      SELECT doc_id, t, len(t) // 16 AS lb, substr(t, 1, 12) AS pfx FROM reps
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, d.doc_id AS doc_b,
             levenshtein(a.t, d.t) AS lev,
             CASE WHEN len(a.t) > len(d.t) THEN len(a.t) ELSE len(d.t) END AS max_len
      FROM b a JOIN b d
        ON a.lb = d.lb AND a.pfx = d.pfx AND a.doc_id < d.doc_id
    )
    SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev,
           1.0 - CAST(lev AS DOUBLE) / max_len AS sim
    FROM cand WHERE lev <= 10
    """,
)
def dedup_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy dedup: edit-distance near-dups found inside
    (length-bucket, prefix) blocks — the record-linkage shape for
    typo-grade duplicates that shingle Jaccard over-fragments.

    Blocking is what makes O(n²) edit distance shippable: candidates
    are bounded per block, the self-join is an equi-join on the block
    key (shuffle-partitioned, AQE-skew-splittable), and the quadratic
    DP runs only inside blocks. An edit within the first 12 chars can
    escape the prefix block — production systems union several
    blocking passes (prefix, suffix, sorted-token); one pass is the
    honest single-key demo.

    Cites dedup_near_jaccard (same fixture near-dup pairs, different
    metric): Jaccard catches reorderings, Levenshtein catches
    character-grade edits.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    c = docs.select("doc_id", canonical_text(F.col("text")).alias("t"))
    # exact-dup collapse first: fuzzy matching runs on one
    # representative per distinct text (min doc_id), so a block of k
    # identical docs costs 1 row, not k^2/2 DP evaluations — measured
    # 77x blowup on the 10x-replicated stress fixture without this
    reps = c.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
    b = reps.select(
        "doc_id",
        "t",
        (F.length("t") / 16).cast("long").alias("lb"),
        F.substring("t", 1, 12).alias("pfx"),
    )
    a, d = b.alias("a"), b.alias("d")
    cand = (
        a.join(d, ["lb", "pfx"])
        .where(F.col("a.doc_id") < F.col("d.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("d.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.t"), F.col("d.t")).cast("long").alias("lev"),
            F.greatest(F.length("a.t"), F.length("d.t")).alias("max_len"),
        )
    )
    return cand.where(F.col("lev") <= 10).select(
        "doc_a",
        "doc_b",
        "lev",
        (F.lit(1.0) - F.col("lev").cast("double") / F.col("max_len")).alias("sim"),
    )


@register(
    "dedup_keep_best",
    # keep-policy dedup: groups are docs with the IDENTICAL distinct
    # token set (order/multiplicity-insensitive — a coarser equality
    # than dedup_exact's canonical text, so fixture groups are real);
    # within a group the survivor is the best doc, not the first.
    oracle="""
    WITH canon AS (
      SELECT doc_id, n_chars,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ctext
      FROM documents
    ), keyed AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(
               list_sort(list_distinct(string_split(ctext, ' '))), ' '))
               AS set_fp
      FROM canon
    ), ranked AS (
      SELECT set_fp, doc_id, n_chars,
             row_number() OVER (PARTITION BY set_fp
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY set_fp) AS grp_n
      FROM keyed
    )
    SELECT set_fp, CAST(grp_n AS BIGINT) AS grp_n,
           doc_id AS kept_id, n_chars AS kept_chars
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with a QUALITY keep-policy: group documents by their
    distinct-token-set fingerprint and keep the longest doc per
    group (ties break to the smallest doc_id).

    dedup_exact keeps MIN(doc_id) — fine when duplicates are
    byte-identical. Real corpus dedup keeps the best representative
    (longest, highest quality score, newest crawl), which needs a
    total order inside the group, not an aggregate: row_number over
    (quality DESC, id) rather than MIN.

    Scale shape: fingerprint is map-side (split/distinct/sort/md5
    all codegen'd), then ONE exchange on set_fp shared by the rank
    window and the group-size window (same partition spec). The
    survivor filter is map-side rn = 1. Same single-shuffle cost as
    dedup_exact — keep-policy sophistication is free.
    """
    from pyspark.sql.window import Window

    d = load_tables(spark, sf_dir)["documents"]
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.sort_array(
                    F.array_distinct(F.split(canonical_text("text"), " "))
                ),
            )
        ).alias("set_fp"),
    )
    w_rank = Window.partitionBy("set_fp").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    w_grp = Window.partitionBy("set_fp")
    ranked = keyed.select(
        "set_fp",
        "doc_id",
        "n_chars",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_grp).cast("bigint").alias("grp_n"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "set_fp",
        "grp_n",
        F.col("doc_id").alias("kept_id"),
        F.col("n_chars").alias("kept_chars"),
    )


CONTAIN_TAU = 0.8  # containment threshold


@register(
    "dedup_containment",
    # ASYMMETRIC containment C(A->B) = |A∩B| / |A|: catches a doc
    # EMBEDDED in a larger one, which symmetric Jaccard dilutes below
    # its threshold (|A∩B|/|A∪B| is small when |B| >> |A|). Same
    # shingle infrastructure as dedup_near_jaccard; both directions
    # of every candidate pair are scored, only breaching directions
    # emitted.
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
                          'g'), ' ') AS r
      FROM documents
    ), toks AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(r) - 1),
               i -> r[i] || ' ' || r[i+1] || ' ' || r[i+2])) AS shingles
      FROM raw
    ), exploded AS (
      SELECT doc_id, unnest(shingles) AS tok FROM toks
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT doc_id, len(shingles) AS n_toks FROM toks
    ), directed AS (
      SELECT doc_a AS contained, doc_b AS container, n_common,
             sa.n_toks AS n_contained
      FROM pairs JOIN sized sa ON sa.doc_id = doc_a
      UNION ALL
      SELECT doc_b, doc_a, n_common, sb.n_toks
      FROM pairs JOIN sized sb ON sb.doc_id = doc_b
    )
    SELECT contained, container,
           floor(CAST(CAST(n_common AS DOUBLE) / n_contained AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS containment
    FROM directed
    WHERE n_common * 100 >= n_contained * {int(CONTAIN_TAU * 100)}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: doc A is (near-)contained in
    doc B when |shingles(A) ∩ shingles(B)| / |shingles(A)| >= 0.8.
    The subset-duplication detector symmetric Jaccard structurally
    misses — a paragraph quoted inside a 100x longer page has tiny
    Jaccard but containment ~1. Standard corpus-curation tier next
    to dedup_near_jaccard (Broder's containment vs resemblance).

    Threshold decided by cross-multiplied INTEGERS (n_common·100 >=
    n_contained·80); the exposed score is display-rounded. Scale
    shape identical to the Jaccard key: shingle explode + equi-join
    on the shingle + pair aggregate — the banded MinHash tier is the
    candidate generator at 100 TB, this is the exact scorer.
    """
    d = load_tables(spark, sf_dir)["documents"]
    # shingle once (spread: the shingle transform otherwise fuses into
    # the 1-task fixture scan, guide §2.5); toks_c feeds the inverted
    # index and the size table — 8 documents scans uncached
    toks_c = spread(d).select(
        "doc_id", shingles(F.col("text")).alias("tokens")
    ).localCheckpoint(eager=False)
    ex = toks_c.select("doc_id", F.explode("tokens").alias("tok"))
    # shared-shingle pairs enumerate inverted-index-at-a-time (the
    # graph keys' basket trick, guide §2.3/2.4): group each shingle's
    # doc set into a sorted array — ONE shuffle keyed by the shingle
    # string — and explode the doc_a < doc_b pairs map-side. The
    # former self-join shuffled the long shingle strings TWICE and
    # sort-merged them; per-doc shingles are distinct, so the pair
    # count per (doc_a, doc_b) is the shared-shingle count either way.
    docsets = ex.groupBy("tok").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    pairs = (
        docsets.selectExpr(
            "inline(flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> "
            "struct(x AS doc_a, y AS doc_b)))))"
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sized = toks_c.select("doc_id", F.size("tokens").alias("n_toks"))
    sa = sized.select(
        F.col("doc_id").alias("doc_a"), F.col("n_toks").alias("na")
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"), F.col("n_toks").alias("nb")
    )
    # doc-grain size table: broadcast (node-sized — the graph keys'
    # note; drop the hint past broadcast size)
    j = pairs.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    directed = j.select(
        F.col("doc_a").alias("contained"),
        F.col("doc_b").alias("container"),
        "n_common",
        F.col("na").alias("n_contained"),
    ).unionAll(
        j.select(
            F.col("doc_b").alias("contained"),
            F.col("doc_a").alias("container"),
            "n_common",
            F.col("nb").alias("n_contained"),
        )
    )
    return directed.where(
        F.col("n_common") * 100
        >= F.col("n_contained") * int(CONTAIN_TAU * 100)
    ).select(
        "contained",
        "container",
        pround(
            F.col("n_common").cast("double") / F.col("n_contained")
        ).alias("containment"),
    )


SWEEP_MIN_BAND = 3  # report bands from jaccard 0.3 up


@register(
    "sim_dedup_threshold_sweep",
    # Threshold calibration for the Jaccard dedup tiers: histogram of
    # LSH-candidate-pair similarity in 0.1-wide bands (band = 10*|A∩B|
    # DIV |A∪B| — integer arithmetic, no float ever buckets a pair)
    # plus the would-drop count at each cut (cumulative from the top).
    # The data that turns "tau = 0.5" from folklore into a decision.
    # Candidates come from the SAME banded MinHash generator the
    # production tier (dedup_minhash_lsh) uses — the curve calibrates
    # the threshold for the pipeline that will actually run, and the
    # cost stays at the LSH floor instead of the quadratic
    # shared-shingle join.
    oracle=f"""
    WITH {minhash_ctes()}, jbands AS (
      SELECT CAST((10 * len(list_intersect(ta.shingles, tb.shingles)))
                  // (len(ta.shingles) + len(tb.shingles)
                      - len(list_intersect(ta.shingles, tb.shingles)))
                  AS BIGINT) AS band
      FROM cand
      JOIN toks ta ON ta.doc_id = doc_a
      JOIN toks tb ON tb.doc_id = doc_b
    ), hist AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM jbands WHERE band >= {SWEEP_MIN_BAND} GROUP BY band
    )
    SELECT band, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY band DESC) AS BIGINT)
             AS n_pairs_at_or_above
    FROM hist
    """,
)
def sim_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration for the near-dup tiers: the similarity
    HISTOGRAM of LSH candidate pairs (0.1-wide Jaccard bands) with the
    cumulative would-drop count at each cut. Dedup thresholds are
    usually copied from a paper; this key computes the curve on YOUR
    corpus — a cliff between bands means the threshold is safe to put
    in the gap, a smooth slope means every choice trades recall for
    precision and you should know by how much.

    Candidates are the banded MinHash pairs (:func:`minhash_candidates`
    — exactly the generator ``dedup_minhash_lsh`` runs in production),
    so the sweep calibrates the threshold for the pipeline that will
    actually execute AND inherits the LSH cost floor: constant-size
    signatures, (band, band_hash) equi-join, exact Jaccard only on
    candidates. Band recall is the LSH S-curve (≈0.99 at J=0.5, lower
    toward band 3) — the histogram reads as "what the production tier
    would see", not the exhaustive pair census (that is
    ``dedup_near_jaccard``'s quadratic exact tier).

    Exactness: a pair's band is (10·|A∩B|) DIV |A∪B| — pure integer
    arithmetic, so banding is engine-identical; the cumulative sum
    runs on the band grain (≤ 8 rows).
    """
    d = load_tables(spark, sf_dir)["documents"]
    toks = minhash_token_arrays(d)
    cand = minhash_candidates(toks)
    joined = cand.join(
        toks.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("toks_a")),
        "doc_a",
    ).join(
        toks.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("toks_b")),
        "doc_b",
    )
    banded = joined.select(
        F.expr(
            "CAST((10 * size(array_intersect(toks_a, toks_b))) DIV "
            "(size(toks_a) + size(toks_b) - size(array_intersect(toks_a, toks_b))) "
            "AS BIGINT)"
        ).alias("band"),
    ).where(F.col("band") >= SWEEP_MIN_BAND)
    from pyspark.sql.window import Window

    hist = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        "band",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_at_or_above"),
    )
