"""End-to-end training-data pipeline: the composition the individual
§2.10 operators exist for.

    raw documents
      → exact dedup        (canonical-text hash, keep min doc_id)
      → near-dup removal   (shingle Jaccard >= τ, keep lower doc_id)
      → quality gate       (word count + punctuation ratio)
      → per-shard token accounting

One declarative DAG — Catalyst pipelines the stages; the only
shuffles are the dedup groupBy, the shingle inverted-index join, and
the final stats agg. At 100 TB each stage is the scale-safe variant
proven by its standalone key (swap the exact Jaccard stage for
``dedup_minhash_lsh``'s banding above ~10M docs; the interface —
a pair list of (keep, drop) — is identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from algebraicdb_spark.functions.rounding import pround, pround_sql
from algebraicdb_spark.operators.dedup import (
    JACCARD_TAU,
    canonical_text,
    minhash_ctes,
    minhash_pairs,
    shingles,
)
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables, spread


def near_dup_pairs(docs: DataFrame, tau: float = JACCARD_TAU) -> DataFrame:
    """(doc_a < doc_b) pairs with shingle-Jaccard >= tau (exact tier)."""
    # shingle once: toks feeds sized + both inverted-index sides
    toks = docs.select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    sized = toks.select("doc_id", F.size("sh").alias("n_sh"))
    ex = toks.select("doc_id", F.explode("sh").alias("tok"))
    # inverted-index-at-a-time pair enumeration (guide §2.3/2.4; the
    # dedup_near_jaccard shape): one shuffle keyed by the shingle,
    # pairs exploded map-side from each shingle's sorted doc set.
    # Per-doc shingles are distinct, so counts match the self-join.
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
    sa = sized.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sized.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # per-doc size tables: no broadcast hint (grows with the corpus;
    # AQE picks broadcast only while the side actually fits)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= tau)
        .select("doc_a", "doc_b")
    )


def clean_corpus(docs: DataFrame, tau: float = JACCARD_TAU) -> DataFrame:
    """Full cleaning DAG; returns the surviving documents."""
    # 1. exact dedup: keep min doc_id per canonical text. spread()
    # first (guide §2.5): the canonicalize + partial agg otherwise
    # fuse into the 1-task fixture scan stage.
    docs = spread(docs)
    canon = docs.withColumn("ctext", canonical_text("text"))
    # survivors re-attach by doc_id, not by re-joining on the ctext
    # payload (guide §8 — decide with small rows, then attach by key):
    # doc_id is unique, so the min-id set alone identifies survivors,
    # and it is doc-grain small → broadcast semi-join, no second
    # shuffle of the text column
    keep_ids = (
        canon.groupBy("ctext").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    # exact survivors feed the near-dup tier (3 reads) AND the final
    # anti-join; materialize the doc-grain table once
    exact = docs.join(F.broadcast(keep_ids), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    # 2. near-dup removal: drop the higher doc_id of each pair
    drop_ids = near_dup_pairs(exact, tau).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    near = exact.join(drop_ids, "doc_id", "left_anti")
    # 3. quality gate
    toks = F.split(canonical_text("text"), " ")
    n_words = F.size(toks)
    punct_ratio = (
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double")
        / F.length("text")
    )
    return near.filter(n_words.between(5, 1000) & (punct_ratio < 0.1))


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH canon AS (
      SELECT *, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ctext
      FROM documents
    ), exact AS (
      SELECT c.* FROM canon c
      JOIN (SELECT ctext, MIN(doc_id) AS doc_id FROM canon GROUP BY ctext) k
        ON c.ctext = k.ctext AND c.doc_id = k.doc_id
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(ctext, ' ')) - 1),
               i -> string_split(ctext, ' ')[i] || ' ' ||
                    string_split(ctext, ' ')[i+1] || ' ' ||
                    string_split(ctext, ' ')[i+2])) AS shingles
      FROM exact
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS tok FROM sh
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sized AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    drops AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM pairs
      JOIN sized sa ON sa.doc_id = doc_a
      JOIN sized sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
              >= {JACCARD_TAU}
    ), survivors AS (
      SELECT e.* FROM exact e
      WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)
        AND len(string_split(e.ctext, ' ')) BETWEEN 5 AND 1000
        AND CAST(length(regexp_replace(e.text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
              / length(e.text) < 0.1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(len(string_split(ctext, ' '))) AS BIGINT) AS n_tokens
    FROM survivors
    GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline, checksummed per language: which documents
    survive (id_checksum pins the exact keep-set, not just counts)."""
    d = load_tables(spark, sf_dir)["documents"]
    survivors = clean_corpus(d)
    n_tokens = F.size(F.split(canonical_text("text"), " "))
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum(n_tokens).alias("n_tokens"),
    )


@register(
    "pipeline_training_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                 ' ')) AS n_tokens,
             len(list_distinct(string_split(regexp_replace(lower(trim(text)),
                 '\\s+', ' ', 'g'), ' '))) AS n_distinct
      FROM documents
    ), b AS (
      SELECT CAST(floor(CAST(n_distinct AS DOUBLE) / n_tokens * 20) AS BIGINT)
               AS bucket,
             CAST(SUM(n_tokens) AS BIGINT) AS btoks
      FROM t GROUP BY 1
    ), cut AS (
      SELECT bucket FROM (
        SELECT bucket,
               COALESCE(SUM(btoks) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
               SUM(btoks) OVER () AS total
        FROM b
      ) WHERE cum_prev < floor(total * 0.30)
    ), kept AS (
      SELECT t.* FROM t
      JOIN cut ON CAST(floor(CAST(n_distinct AS DOUBLE) / n_tokens * 20) AS BIGINT)
                  = cut.bucket
      WHERE (doc_id % 65536) * 40503 % 65536 <
            CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN 52429
                 WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 32768
                 ELSE 16384 END
    ), packed AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM kept
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(cum_prev + n_tokens - 1) // 256 + 1 AS BIGINT) AS n_seqs
    FROM packed
    GROUP BY source
    """,
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixing capstone: quality budget cut → weighted mix sample →
    sequence packing, composed as ONE declarative DAG (the stage twins
    of `select_token_budget`, `mix_weighted_sample`, `pack_sequences`).

    Per source: surviving docs, tokens, and how many SEQ_CAP context
    windows they pack into. Stage order matters and mirrors production
    (quality first so sampling rates act on the kept pool). Catalyst
    pipelines all of it: one doc-grain pass for scoring + keep
    predicates (map-side except the bucket rollup), one (source)
    shuffle for packing, one final rollup.
    """
    from algebraicdb_spark.operators.mixing import (
        BUDGET_FRACTION,
        SCORE_BUCKETS,
        SEQ_CAP,
        pack_layout,
    )
    from pyspark.sql.window import Window

    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(canonical_text(F.col("text")), " ")
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.floor(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            * SCORE_BUCKETS
        ).cast("long").alias("bucket"),
    )
    b = scored.groupBy("bucket").agg(F.sum("n_tokens").alias("btoks"))
    w_prev = (
        Window.partitionBy()
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy()
    cut = (
        b.select(
            "bucket",
            F.coalesce(F.sum("btoks").over(w_prev), F.lit(0)).alias("cum_prev"),
            F.sum("btoks").over(w_all).alias("total"),
        )
        .filter(F.col("cum_prev") < F.floor(F.col("total") * BUDGET_FRACTION))
        .select("bucket")
    )
    src_num = F.substring("source", 4, 10).cast("int")
    tier = F.when(src_num < 5, 52429).when(src_num < 10, 32768).otherwise(16384)
    kept = (
        scored.join(F.broadcast(cut), "bucket")
        .filter((F.col("doc_id") % 65536) * 40503 % 65536 < tier)
        .select("doc_id", "source", "n_tokens")
    )
    packed = pack_layout(kept, cap=SEQ_CAP)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (
            F.floor(
                (
                    F.max(
                        F.col("seq_id") * SEQ_CAP
                        + F.col("seq_offset")
                        + F.col("n_tokens")
                    )
                    - 1
                )
                / SEQ_CAP
            )
            + 1
        ).cast("long").alias("n_seqs"),
    )


INCR_SPLIT = 400  # doc_id < split = already-ingested corpus; rest = new batch


def doc_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 of the sorted distinct canonical token set —
    the content fingerprint the incremental dedup state is keyed on.
    Map-side only."""
    from algebraicdb_spark.operators.dedup import canonical_text

    return d.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.sort_array(
                    F.array_distinct(F.split(canonical_text("text"), " "))
                ),
            )
        ).alias("fp"),
    )


def incremental_dedup_classify(
    batch_fps: DataFrame, state_fps: DataFrame
) -> DataFrame:
    """Classify a batch of (doc_id, fp) rows against a standing
    fingerprint state (fp): 'dup_of_corpus' / 'dup_in_batch' /
    'fresh'. The state is the natural ``Engine.save_model``
    artifact (kind='dedup_fingerprints') — persisted once per ingest,
    reloaded as a parquet scan, joined on fp; state grows with UNIQUE
    content only, and the fold is associative across batches (next
    state = old state ∪ fresh fingerprints)."""
    from pyspark.sql.window import Window

    state = state_fps.select("fp").distinct().withColumn("hit", F.lit(1))
    batch = batch_fps.join(state, "fp", "left").select(
        "doc_id",
        "fp",
        F.coalesce("hit", F.lit(0)).alias("hits_corpus"),
        F.row_number()
        .over(Window.partitionBy("fp").orderBy("doc_id"))
        .alias("rn_in_batch"),
    )
    return batch.select(
        "doc_id",
        F.when(F.col("hits_corpus") == 1, "dup_of_corpus")
        .when(F.col("rn_in_batch") > 1, "dup_in_batch")
        .otherwise("fresh")
        .alias("status"),
    )


@register(
    "pipeline_incremental_dedup",
    # incremental ingestion dedup: a NEW batch is checked against the
    # standing corpus fingerprint state, then within itself — the
    # batch-mode statement of stream_dedup_watermark's semantics, on
    # content fingerprints instead of ids.
    oracle=f"""
    WITH fps AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))),
               ' ')) AS fp
      FROM documents
    ), old_fps AS (
      SELECT DISTINCT fp FROM fps WHERE doc_id < {INCR_SPLIT}
    ), batch AS (
      SELECT f.doc_id, f.fp,
             CASE WHEN o.fp IS NOT NULL THEN 1 ELSE 0 END AS hits_corpus,
             row_number() OVER (PARTITION BY f.fp ORDER BY f.doc_id)
               AS rn_in_batch
      FROM fps f LEFT JOIN old_fps o ON o.fp = f.fp
      WHERE f.doc_id >= {INCR_SPLIT}
    )
    SELECT doc_id,
           CASE WHEN hits_corpus = 1 THEN 'dup_of_corpus'
                WHEN rn_in_batch > 1 THEN 'dup_in_batch'
                ELSE 'fresh' END AS status
    FROM batch
    """,
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: classify every document of a new
    batch against (a) the standing corpus's fingerprint state and
    (b) the batch itself — 'dup_of_corpus' / 'dup_in_batch' /
    'fresh'. This is how dedup actually runs in production: the
    corpus fingerprints are a persisted table that each ingest batch
    left-joins, NOT a full-corpus recompute (the one-shot keys'
    shape). First-in-batch keeps 'fresh' so the batch's survivors
    plus the old state form the next state — the fold is associative
    across batches.

    Scale shape: fingerprints map-side; ONE join of the batch against
    the (distinct) state on fp; the in-batch tiebreak window shares
    the fp partitioning. State grows with UNIQUE content only. The
    standing state is the ``Engine.save_model(kind='dedup_fingerprints')``
    artifact — ``incremental_dedup_classify`` consumes a reloaded
    state identically (pytest-pinned in test_models.py).
    """
    d = load_tables(spark, sf_dir)["documents"]
    fps = doc_fingerprints(d)
    state = fps.where(F.col("doc_id") < INCR_SPLIT)
    batch = fps.where(F.col("doc_id") >= INCR_SPLIT)
    return incremental_dedup_classify(batch, state)


DECON_N = 3       # gram width (production runs 8-13; fixture docs are short)
DECON_TAU = 0.10  # drop a held-out doc when >= 10% of its grams hit train


@register(
    "pipeline_split_decontaminate",
    # Split + decontaminate in one pass: docs hash-split 80/10/10
    # (split_hash_assign's md5 rule), then every val/test doc whose
    # distinct 3-gram overlap with the TRAIN gram set reaches 10% is
    # dropped — the leakage sweep every benchmark pipeline owes its
    # eval sets, stated on the engine's own split.
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1000 < 800 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), t AS (
      SELECT doc_id, split,
             list_distinct(list_filter(
               list_transform(range(1, greatest(len(r) - 3, 0) + 2),
                              i -> CASE WHEN i + 2 <= len(r)
                                        THEN array_to_string(r[i:i + 2], ' ')
                                   END),
               x -> x IS NOT NULL)) AS grams
      FROM (SELECT doc_id, split,
                   string_split(regexp_replace(lower(trim(text)),
                                               '\\s+', ' ', 'g'), ' ') AS r
            FROM s)
    ), train_grams AS (
      SELECT DISTINCT unnest(grams) AS g FROM t WHERE split = 'train'
    ), held AS (
      SELECT doc_id, split, unnest(grams) AS g FROM t WHERE split <> 'train'
    ), hits AS (
      SELECT h.doc_id, h.split,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM held h LEFT JOIN train_grams tg ON tg.g = h.g
      GROUP BY h.doc_id, h.split
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN CAST(n_hit AS DOUBLE) / n_grams >= {DECON_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN CAST(n_hit AS DOUBLE) / n_grams >= {DECON_TAU}
                         THEN 0 ELSE doc_id END) AS BIGINT) AS kept_checksum
    FROM hits GROUP BY split
    """,
)
def pipeline_split_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hold-out hygiene end-to-end: hash-split the corpus 80/10/10
    (split_hash_assign's deterministic md5 rule), then DECONTAMINATE
    the held-out splits against the train split — any val/test doc
    sharing ≥ 10% of its distinct 3-grams with ANY train doc is
    dropped. This is contamination_ngram pointed at the pipeline's
    own split instead of an external benchmark: the leakage that
    silently inflates eval scores comes from the train set itself.

    Scale shape: split assignment is a pure per-row hash; the train
    gram set is distinct-aggregated once (and is the big side here —
    the held-out 20% explodes, the train grams arrive via one
    gram-keyed shuffle join, no broadcast assumption); per-held-doc
    overlap is one (doc) aggregate. Same cost envelope as one
    near-dup exact pass over 20% of the corpus.
    """
    from algebraicdb_spark.operators.dedup import shingles

    d = load_tables(spark, sf_dir)["documents"]
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000
    )
    s = d.select(
        "doc_id",
        "text",
        F.when(b < 800, "train").when(b < 900, "val").otherwise("test").alias(
            "split"
        ),
    )
    grams = s.select(
        "doc_id",
        "split",
        F.explode(F.array_distinct(shingles(F.col("text"), DECON_N))).alias("g"),
    )
    train_grams = (
        grams.where(F.col("split") == "train").select("g").distinct()
        .withColumn("hit", F.lit(1))
    )
    held = grams.where(F.col("split") != "train")
    hits = (
        held.join(train_grams, "g", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
        )
    )
    dropped = (
        F.col("n_hit").cast("double") / F.col("n_grams") >= DECON_TAU
    )
    return hits.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(dropped, 0).otherwise(F.col("doc_id")))
        .cast("bigint")
        .alias("kept_checksum"),
    )


# SQL twin of dedup.canonical_text (lower + collapse whitespace) —
# byte-identical regexp/ops, rendered once at import
_CANON_SQL = r"regexp_replace(lower(trim(text)), '\\s+', ' ')"

# The funnel's tier/token plumbing as ONE pre-rendered statement
# (round 15): every expression is the same SQL text the Column form
# generated (split/size token counts, literal tier tags, LEFT ANTI
# near-drop cut, broadcast 1-row total, pround share), so values are
# hash-identical; only the two input tables are substituted per call.
_FUNNEL_SQL_TEMPLATE = (
    "WITH toks AS (\n"
    "  SELECT doc_id,\n"
    "         CAST(size(split(" + _CANON_SQL + ", ' ')) AS BIGINT) AS n_toks\n"
    "  FROM documents\n"
    "),\n"
    "tiers AS (\n"
    "  SELECT 0 AS tier, 'raw' AS stage, doc_id FROM documents\n"
    "  UNION ALL SELECT 1, 'exact_dedup', doc_id FROM {keep}\n"
    "  UNION ALL SELECT 2, 'near_dedup', k.doc_id FROM {keep} k\n"
    "    LEFT ANTI JOIN (SELECT DISTINCT doc_b AS doc_id FROM {pairs}) nd\n"
    "      ON nd.doc_id = k.doc_id\n"
    "),\n"
    "agg AS (\n"
    "  SELECT tier, stage, CAST(COUNT(*) AS BIGINT) AS n_docs,\n"
    "         CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens\n"
    "  FROM tiers JOIN toks t USING (doc_id) GROUP BY tier, stage\n"
    "),\n"
    "tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS all_toks FROM toks)\n"
    "SELECT /*+ BROADCAST(tot) */ tier, stage, n_docs, n_tokens,\n"
    "       " + pround_sql("CAST(n_tokens AS DOUBLE) / all_toks")
    + " AS token_share\n"
    "FROM agg CROSS JOIN tot"
)


@register(
    "pipeline_dedup_funnel",
    # The dedup ladder as a funnel report: docs and tokens surviving
    # each tier (raw -> exact dedup -> MinHash-LSH near-dup removal),
    # with each tier's retention share — the one table a data lead
    # actually reads about the dedup pipeline. Composes the same
    # keep-rules the standalone keys verify; the near tier runs the
    # banded MinHash candidate generator (dedup_minhash_lsh), the
    # 100 TB path, NOT the quadratic exact-Jaccard tier.
    oracle=f"""
    WITH canon AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ctext
      FROM documents
    ), ntoks AS (
      SELECT doc_id, len(string_split(ctext, ' ')) AS n_toks FROM canon
    ), exact_keep AS (
      SELECT ctext, MIN(doc_id) AS doc_id FROM canon GROUP BY ctext
    ), exact_docs AS (
      SELECT doc_id, ctext AS text FROM exact_keep
    ), {minhash_ctes("exact_docs")},
    near_drops AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM rer WHERE jaccard >= {JACCARD_TAU}
    ), tiers AS (
      SELECT 0 AS tier, 'raw' AS stage, doc_id FROM canon
      UNION ALL
      SELECT 1, 'exact_dedup', doc_id FROM exact_keep
      UNION ALL
      SELECT 2, 'near_dedup', k.doc_id
      FROM exact_keep k
      WHERE k.doc_id NOT IN (SELECT doc_id FROM near_drops)
    )
    SELECT tier, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens,
           floor(CAST(SUM(t.n_toks) AS DOUBLE)
                 / (SELECT SUM(n_toks) FROM ntoks) * 10000 + 0.5) / 10000
             AS token_share
    FROM tiers JOIN ntoks t USING (doc_id)
    GROUP BY tier, stage
    """,
)
def pipeline_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder as a funnel: documents and TOKENS surviving
    raw → exact dedup → MinHash-LSH near-dup removal, with each tier's
    share of the original token mass. This is the report a data lead
    reads — 'dedup cost us 12% of tokens, 9% from exact copies' — and
    it composes exactly the keep-rules the standalone keys
    (dedup_exact, dedup_minhash_lsh) verify, so the funnel numbers
    inherit their correctness.

    Scale shape: tier 1 is the exact-dedup hash agg; tier 2 runs the
    BANDED MinHash candidate generator over the exact survivors —
    constant-size signatures, equi-join on (band, band_hash), exact
    Jaccard only on candidates — never the quadratic shared-shingle
    tier. The tier union is doc-id-grain metadata; token sums join one
    (doc, n_tokens) table built map-side.
    """
    load_tables(spark, sf_dir)  # registers the `documents` view
    # exact_keep feeds tier1, tier2's anti-join AND the near-dup tier;
    # materialize the doc-grain table once instead of re-running the
    # canonicalize+groupBy per consumer. The rest of the funnel is
    # pre-rendered SQL (round 15, the _MH_PAIRS_TEMPLATE device): the
    # Column-object plumbing issued ~300 py4j round-trips per build.
    exact_keep = spark.sql(
        "SELECT ctext, MIN(doc_id) AS doc_id FROM (SELECT doc_id, "
        f"{_CANON_SQL} AS ctext FROM documents) GROUP BY ctext"
    ).localCheckpoint(eager=False)
    # feed the canonical text as `text`: minhash_pairs re-canonicalizes
    # idempotently, and the oracle's exact_docs CTE does the same
    exact_docs = exact_keep.select("doc_id", F.col("ctext").alias("text"))
    # Spark binds both inputs under uuid views and drops them once the
    # statement is analyzed
    return spark.sql(
        _FUNNEL_SQL_TEMPLATE, keep=exact_keep, pairs=minhash_pairs(exact_docs)
    )
