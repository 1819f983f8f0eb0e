"""§2.11 UDF / UDAF / UDTF surface.

The escape hatches, in preference order (SURVEY: "UDFs are the slow
path"): built-ins > pandas_udf (Arrow-vectorized) > row Python UDF.
Each key's oracle is the equivalent pure-SQL form, proving the UDF
computes what the declarative version would — the discipline that
keeps UDF logic testable when it graduates to real custom code.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from algebraicdb_spark.functions.rounding import pround, pround_np
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables

_CLASSIFY_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0.0 THEN 'none'
            WHEN l_discount < 0.05 THEN 'low'
            WHEN l_discount < 0.08 THEN 'mid'
            ELSE 'high' END AS disc_class
FROM lineitem
WHERE l_orderkey % 799 = 0
"""


def _classify(d: float) -> str:
    if d == 0.0:
        return "none"
    if d < 0.05:
        return "low"
    if d < 0.08:
        return "mid"
    return "high"


@register("udf_python_scalar", oracle=_CLASSIFY_ORACLE)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path — kept off hot paths;
    here to prove the surface and pin its semantics to SQL)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    classify = F.udf(_classify, StringType(), useArrow=False)
    return li.filter(F.col("l_orderkey") % 799 == 0).select(
        "l_orderkey", "l_linenumber", classify("l_discount").alias("disc_class")
    )


@register("udf_pandas_scalar", oracle=_CLASSIFY_ORACLE)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same classifier, Arrow-vectorized (@pandas_udf) — must produce
    byte-identical output to udf_python_scalar (same oracle)."""
    li = load_tables(spark, sf_dir)["lineitem"]

    @F.pandas_udf(StringType())
    def classify(d: pd.Series) -> pd.Series:
        out = pd.Series("high", index=d.index)
        out[d < 0.08] = "mid"
        out[d < 0.05] = "low"
        out[d == 0.0] = "none"
        return out

    return li.filter(F.col("l_orderkey") % 799 == 0).select(
        "l_orderkey", "l_linenumber", classify("l_discount").alias("disc_class")
    )


@register(
    "udaf_pandas_grouped",
    oracle="""
    SELECT l_returnflag,
           floor(CAST(SUM(l_extendedprice * l_quantity) / SUM(l_quantity) AS DOUBLE) * 10000 + 0.5) / 10000
             AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: quantity-weighted mean price per flag."""
    li = load_tables(spark, sf_dir)["lineitem"]

    @F.pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    return li.groupBy("l_returnflag").agg(
        pround(weighted_avg("l_extendedprice", "l_quantity")).alias(
            "weighted_avg_price"
        )
    )


@register(
    "udtf_apply_in_pandas",
    oracle="""
    SELECT event_id, user_id,
           floor(CAST((value - AVG(value) OVER (PARTITION BY user_id)) /
                 stddev_samp(value) OVER (PARTITION BY user_id) AS DOUBLE) * 10000 + 0.5) / 10000 AS value_z
    FROM events
    WHERE user_id % 20 = 0
    """,
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map (table-in/table-out): per-user z-normalization via
    applyInPandas; the oracle is the equivalent window SQL."""
    e = load_tables(spark, sf_dir)["events"]

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = (v - v.mean()) / v.std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "value_z": pround_np(z),
            }
        )

    return (
        e.filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id")
        .applyInPandas(normalize, schema="event_id bigint, user_id bigint, value_z double")
    )


@register(
    "udtf_map_in_pandas",
    # pandas str.split() == whitespace-run split dropping leading/
    # trailing; the SQL twin must trim first and drop empty tokens
    oracle=r"""
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(
             string_split_regex(trim(text), '\s+'), t -> t <> ''))) AS BIGINT)
             AS total_words,
           CAST(SUM(length(regexp_replace(text, '[^A-Z]', '', 'g'))) AS BIGINT)
             AS total_upper
    FROM documents
    """,
)
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise feature extraction with mapInPandas (pure map
    stage, Arrow batches, no shuffle) + tiny verification agg."""
    d = load_tables(spark, sf_dir)["documents"]

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pdf["text"].str.split().map(len),
                    "n_upper": pdf["text"].str.count(r"[A-Z]"),
                }
            )

    feats = d.mapInPandas(features, schema="doc_id bigint, n_words int, n_upper int")
    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_upper").alias("total_upper"),
    )


@register(
    "udtf_python",
    oracle="""
    SELECT doc_id, sent_idx, sentence_len
    FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, '. '), 1) AS sent_idx,
             length(unnest(string_split(text, '. '))) AS sentence_len
      FROM documents
      WHERE doc_id % 50 = 0
    )
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-callable Python table function (@udtf, Spark 4): doc →
    one row per sentence-ish split."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence_len int")
    class SplitSentences:
        def eval(self, doc_id: int, text: str):
            for i, s in enumerate(text.split(". ")):
                yield doc_id, i + 1, len(s)

    spark.udtf.register("split_sentences", SplitSentences)
    d = load_tables(spark, sf_dir)["documents"]
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence_len
        FROM {docs} d,
             LATERAL split_sentences(d.doc_id, d.text) s
        """,
        docs=d.filter(F.col("doc_id") % 50 == 0),
    )


@register(
    "udtf_apply_in_arrow",
    # Arrow-native grouped map (Spark 4 applyInArrow): the UDF sees a
    # pyarrow.Table per group with NO pandas conversion — the
    # zero-copy fast path for columnar Python extensions. The body
    # works on the exact cent grid (int64 end-to-end after one
    # floor), so the SQL twin hash-matches with no tolerance.
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
           CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
    FROM events
    WHERE user_id % 20 = 0
    GROUP BY user_id
    """,
)
def udtf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over raw Arrow record batches (table-in/table-out
    without the pandas detour) — completes the UDF surface trio:
    applyInPandas (pandas), mapInPandas (streaming batches), and
    applyInArrow (zero-copy columnar).

    Scale shape: one (user_id) shuffle, then pure columnar compute
    per group; pyarrow.compute kernels are vectorized C++, so the
    Python tax is per-GROUP, not per-row. The same body runs
    unchanged whether a group holds 10 rows or 10 million (Arrow
    chunks internally).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    e = load_tables(spark, sf_dir)["events"]

    def stats(table: "pa.Table") -> "pa.Table":
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(table.column("value"), 100.0), 0.5)),
            pa.int64(),
        )
        return pa.table(
            {
                "user_id": pa.array([table.column("user_id")[0].as_py()], pa.int64()),
                "n": pa.array([table.num_rows], pa.int64()),
                "sum_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "min_cents": pa.array([pc.min(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    return (
        e.filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id")
        .applyInArrow(
            stats,
            schema="user_id bigint, n bigint, sum_cents bigint, "
            "min_cents bigint, max_cents bigint",
        )
    )


@register("udf_arrow_scalar", oracle=_CLASSIFY_ORACLE)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same classifier via the Arrow-OPTIMIZED Python UDF path
    (``useArrow=True``, Spark 3.5+): row-at-a-time author ergonomics,
    Arrow-batched transfer — the migration story between
    udf_python_scalar (pickle serialization) and udf_pandas_scalar
    (vectorized author surface). All three keys share one oracle, so
    the three execution paths are pinned byte-identical.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    classify = F.udf(_classify, StringType(), useArrow=True)
    return li.filter(F.col("l_orderkey") % 799 == 0).select(
        "l_orderkey", "l_linenumber", classify("l_discount").alias("disc_class")
    )
