"""§2.1 scans / sources / sinks.

Reference parity: algebraicdb scans in-memory row tables; our scans
are parquet with Catalyst pushdown (verified in tests via
``explain``: PushedFilters / ReadSchema pruning). Round-trip
source/sink keys exercise the writer surface; their oracles
aggregate the ORIGINAL table, so a lossy round-trip fails the hash.

Scale: every query here is a single scan stage — no shuffle except
the counts' final singleton aggregation. Partitioned sink uses
``partitionBy`` so downstream reads prune by directory.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from algebraicdb_spark.functions.rounding import exact_money_sum, pround
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables

_SCRATCH = os.path.join(tempfile.gettempdir(), "algebraicdb_spark_scratch")


def _scratch(name: str, sf_dir: str) -> str:
    tag = sf_dir.rstrip("/").replace("/", "_")
    return os.path.join(_SCRATCH, f"{name}_{tag}")


@register(
    "scan_parquet",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan + count (ref: full table scan)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").alias("sum_orderkey"),
    )


@register(
    "scan_projection_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_orderkey % 1000 = 0
    """,
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: ReadSchema must show only 2 columns (tested)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.select("l_orderkey", "l_linenumber").filter(
        F.col("l_orderkey") % 1000 == 0
    )


@register(
    "source_csv",
    # the round-trip must be lossless, so the oracle is the aggregate
    # over the ORIGINAL table — any writer/reader corruption (quoting,
    # type coercion, dropped rows) breaks the hash
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM nation
    """,
)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with explicit schema (CSV has no types of its own)."""
    nation = load_tables(spark, sf_dir)["nation"]
    path = _scratch("nation_csv", sf_dir)
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(nation.schema).option("header", True).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").alias("sum_key"),
    )


@register(
    "source_json",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(r_regionkey) AS BIGINT) AS sum_key
    FROM region
    """,
)
def source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip; schema pinned on read to avoid inference drift."""
    region = load_tables(spark, sf_dir)["region"]
    path = _scratch("region_json", sf_dir)
    region.write.mode("overwrite").json(path)
    back = spark.read.schema(region.schema).json(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("r_regionkey").alias("sum_key"),
    )


@register(
    "source_orc",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
    FROM customer
    """,
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (Spark's second first-class columnar format).

    Same lossless contract as the CSV/JSON keys: the oracle aggregates
    the ORIGINAL table, so any writer/reader drift (type mapping,
    precision, dropped rows) breaks the hash. ORC shares parquet's
    scan behaviors (column pruning, predicate pushdown) so the same
    scale properties apply at 100 TB.
    """
    customer = load_tables(spark, sf_dir)["customer"]
    path = _scratch("customer_orc", sf_dir)
    customer.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("sum_key"),
        exact_money_sum("c_acctbal").alias("sum_bal"),
    )


@register(
    "sink_parquet_partitioned",
    # oracle = the same one-year slice straight off the source table:
    # proves the partitioned write + pruned read-back lost nothing
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1997
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by year; read ONE partition back.

    Scale: directory partitioning means the read-back scans only
    files under yr=1997 — static partition pruning, no full scan.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    path = _scratch("orders_by_year", sf_dir)
    orders.withColumn("yr", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("yr").parquet(path)
    one_year = spark.read.parquet(path).filter(F.col("yr") == 1997)
    return one_year.agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_money_sum("o_totalprice").alias("sum_price"),
    )


@register(
    "insert_values",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT * FROM (VALUES (100, 'ATLANTIS'), (101, 'LEMURIA')) t(r_regionkey, r_name)
    ORDER BY r_regionkey
    """,
)
def insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT ... VALUES semantics: literal rows appended to a table."""
    region = load_tables(spark, sf_dir)["region"]
    extra = spark.createDataFrame(
        [(100, "ATLANTIS"), (101, "LEMURIA")], schema="r_regionkey int, r_name string"
    )
    return (
        region.select("r_regionkey", "r_name")
        .unionByName(extra)
        .orderBy("r_regionkey")
    )


@register(
    "merge_upsert",
    # MERGE INTO semantics via full-outer join: delta rows override
    # matched targets, unmatched delta rows insert. Delta is derived
    # deterministically from the fixture so both engines build it.
    oracle="""
    WITH delta AS (
      SELECT o_orderkey,
             o_custkey,
             'X' AS o_orderstatus,
             CAST(o_totalprice * 1.1 AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT -1, 1, 'N', 42.0
    ), merged AS (
      SELECT COALESCE(d.o_orderkey, t.o_orderkey) AS o_orderkey,
             COALESCE(d.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
             COALESCE(d.o_totalprice, t.o_totalprice) AS o_totalprice
      FROM (SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders) t
      FULL JOIN delta d USING (o_orderkey)
    )
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM merged GROUP BY o_orderstatus
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert): WHEN MATCHED update, WHEN NOT MATCHED
    insert — as one full-outer join + coalesce projection.

    This is the lakehouse write path in its batch form: one shuffle
    on the merge key for both sides; at 100 TB you'd partition the
    target by key range and AQE-skew-split hot keys — the plan shape
    here is exactly that join.
    """
    o = load_tables(spark, sf_dir)["orders"]
    target = o.select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double")
    )
    delta = (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).cast("double").alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(-1, 1, "N", 42.0)],
                "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double",
            )
        )
        .drop("o_custkey")
    )
    merged = target.alias("t").join(
        delta.alias("d"), "o_orderkey", "full"
    ).select(
        F.col("o_orderkey"),
        F.coalesce(F.col("d.o_orderstatus"), F.col("t.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("d.o_totalprice"), F.col("t.o_totalprice")).alias(
            "o_totalprice"
        ),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias(
            "total"
        ),
    )


@register(
    "scan_dynamic_partition_pruning",
    # oracle = the same aggregate straight off the source table for
    # the dim-selected years; proves the pruned scan lost nothing
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1998)
    GROUP BY 1
    """,
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is year-partitioned
    parquet, the filter lives on a DIM table only — Catalyst injects a
    runtime `dynamicpruning` subquery on the fact's partition column,
    so only the dim-selected year directories are read.

    This is the core 100 TB star-join scan behavior: the partition
    filter is NOT known statically (it comes out of the dim join), yet
    the fact scan still skips every non-matching partition.
    `tests/test_plans.py::test_dynamic_partition_pruning_in_plan`
    pins the dynamicpruning expression in the executed plan.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    path = _scratch("orders_dpp", sf_dir)
    orders.withColumn("yr", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("yr").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(yr, 1 if yr in (1996, 1998) else 0) for yr in range(1995, 2002)],
        "yr int, is_target int",
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("is_target") == 1)), "yr")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_money_sum("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "source_schema_evolution",
    # v1 files lack the discount column entirely; the merged read must
    # surface them as NULL discount (never 0, never dropped) — the
    # oracle replays the version split straight off the source table
    oracle="""
    SELECT CAST(o_orderkey % 2 AS INTEGER) AS version,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(o_totalprice * 0.1 AS DECIMAL(18,4))
                    END) AS DOUBLE) AS sum_discount,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_discount
    FROM orders
    GROUP BY 1
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: half the orders land as v1 files
    (no ``disc`` column), half as v2 files (with it); a single
    ``mergeSchema`` read reconciles them — v1 rows surface NULL
    discounts, totals are unaffected.

    This is the data-lake reality at 100 TB (columns appear over
    time; rewriting petabytes of old files is not an option). The
    plan is still plain parquet scans — schema merge happens at
    footer-read time, per-file pushdown/pruning keep working.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    path = _scratch("orders_evolving", sf_dir)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") * 0.1).alias("disc"),
    )
    v1.write.mode("overwrite").parquet(f"{path}/v=1")
    v2.write.mode("overwrite").parquet(f"{path}/v=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{path}/v=1", f"{path}/v=2"
    )
    return (
        merged.groupBy((F.col("o_orderkey") % 2).cast("int").alias("version"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_money_sum("disc").alias("sum_discount"),
            F.sum(F.when(F.col("disc").isNull(), 1).otherwise(0))
            .alias("n_null_discount"),
        )
    )


@register(
    "alter_table_evolution",
    # the oracle replays the post-ALTER logical schema directly off the
    # source table: added columns surface their DEFAULT (or the UPDATE
    # result), the renamed column keeps its values
    oracle="""
    SELECT n_regionkey AS region_key,
           COUNT(*) AS n_nations,
           CAST(SUM(CASE WHEN n_nationkey >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           'unreviewed' AS status
    FROM nation
    GROUP BY 1
    """,
)
def alter_table_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-change DDL over the dialect: CTAS → ALTER TABLE ADD
    COLUMN (with and without DEFAULT) → UPDATE → RENAME COLUMN, then a
    read over the evolved shape. The write-side twin of
    :func:`source_schema_evolution` (which handles the same widening
    at the parquet scan): ALTERs lower to projected view replacements
    + a catalog entry update (persisted by ``Engine.save_catalog``),
    so existing data is never rewritten — the 100 TB migration story.
    """
    from algebraicdb_spark.engine import Engine

    eng = Engine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS nation_evolved")
    eng.sql(
        "CREATE TABLE nation_evolved AS "
        "SELECT n_nationkey, n_regionkey FROM nation"
    )
    eng.sql("ALTER TABLE nation_evolved ADD COLUMN status: Text DEFAULT 'unreviewed'")
    eng.sql("ALTER TABLE nation_evolved ADD COLUMN flagged: Integer")
    eng.sql("UPDATE nation_evolved SET flagged = 1 WHERE n_nationkey >= 10")
    eng.sql("ALTER TABLE nation_evolved RENAME COLUMN n_regionkey TO region_key")
    return eng.sql(
        """
        SELECT region_key,
               COUNT(*) AS n_nations,
               CAST(SUM(CASE WHEN flagged = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               MAX(status) AS status
        FROM nation_evolved
        GROUP BY region_key
        """
    )


@register(
    "scan_file_lineage",
    # the oracle states the lineage CONTRACT: every row carries its
    # source file and a complete, contiguous per-file row index
    oracle="""
    SELECT 'documents.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS first_row_index,
           CAST(COUNT(*) - 1 AS BIGINT) AS last_row_index,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM documents
    """,
)
def scan_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance via Spark's hidden ``_metadata`` struct:
    every row knows its source file and row position — the lineage a
    training pipeline needs to trace any example back to its shard
    (and to build stable example ids as (file, row_index)).

    Free at scale: ``_metadata`` is populated by the scan itself (no
    join, no shuffle beyond the tiny per-file rollup here). The
    aggregate asserts the contract — one complete contiguous 0-based
    index per file — rather than echoing fixture values."""
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    return (
        df.select(
            "doc_id",
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("row_index"),
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("first_row_index"),
            F.max("row_index").alias("last_row_index"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


_RLE_COLS = ("l_returnflag", "l_linestatus", "l_partkey", "l_quantity")


@register(
    "storage_rle_advisor",
    # Column compressibility report: run counts under the physical
    # write order (lines clustered by order, sequenced by linenumber).
    # A "run" break is value != lag(value) within each l_orderkey
    # partition under the TOTAL order (linenumber, partkey, suppkey)
    # — (orderkey, linenumber) alone has ties, and a tied order makes
    # lag() engine-dependent. Partitions are storage-cluster-sized,
    # so no global window. All outputs exact integers + one ratio.
    oracle="""
    WITH runs AS (
      SELECT
        """
    + ",\n        ".join(
        f"""CAST(SUM(CASE WHEN {c}_prev IS NULL OR {c} <> {c}_prev
                 THEN 1 ELSE 0 END) AS BIGINT) AS runs_{c},
        CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}"""
        for c in _RLE_COLS
    )
    + """,
        CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM (
        SELECT l_returnflag, l_linestatus, l_partkey, l_quantity, l_suppkey,
        """
    + ",\n        ".join(
        f"""lag({c}) OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_suppkey)
             AS {c}_prev"""
        for c in _RLE_COLS
    )
    + """
        FROM lineitem) t
    )
    SELECT col_name, n_rows, n_runs, n_distinct,
           floor((CAST(n_rows AS DOUBLE) / n_runs) * 10000 + 0.5) / 10000
             AS avg_run_len
    FROM (
      """
    + "\n      UNION ALL\n      ".join(
        f"""SELECT '{c}' AS col_name, n_rows, runs_{c} AS n_runs,
             nd_{c} AS n_distinct FROM runs"""
        for c in _RLE_COLS
    )
    + """
    )
    """,
)
def storage_rle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: per-column run-length statistics under
    the physical write order (order-clustered, linenumber-sequenced) —
    how well each column would RLE/dictionary-encode in a columnar
    format. Long runs (returnflag/linestatus) say "RLE wins"; runs ≈
    rows (partkey) say "dictionary or delta". The report that guides
    sort-key selection before a 100 TB rewrite.

    Scale shape: one (l_orderkey) shuffle serves all four lag windows
    (same partition spec → one Window operator), then a single global
    aggregate of integer partials; the unpivot is 4 rows. Exactness:
    run breaks and distinct counts are integers; the only float op is
    the final ratio.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    with_prev = li.select(
        *_RLE_COLS,
        *[F.lag(c).over(w).alias(f"{c}_prev") for c in _RLE_COLS],
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in _RLE_COLS:
        aggs.append(
            F.sum(
                F.when(
                    F.col(f"{c}_prev").isNull() | (F.col(c) != F.col(f"{c}_prev")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"runs_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"nd_{c}"))
    runs = with_prev.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', runs_{c}, nd_{c}" for c in _RLE_COLS
    )
    return runs.select(
        "n_rows",
        F.expr(
            f"stack({len(_RLE_COLS)}, {stack_args}) AS (col_name, n_runs, n_distinct)"
        ),
    ).select(
        "col_name",
        "n_rows",
        "n_runs",
        "n_distinct",
        pround(F.col("n_rows").cast("double") / F.col("n_runs")).alias("avg_run_len"),
    )


@register(
    "source_csv_malformed",
    # Tolerant-reader contract: every o_orderkey % 10 = 0 row is
    # WRITTEN corrupted (non-numeric cents column), Spark reads with
    # mode=DROPMALFORMED, and the oracle states the surviving set —
    # exactly the rows whose key isn't % 10 (verified equivalent to
    # DuckDB's read_csv ignore_errors on the same bytes: both drop
    # bad-type and bad-arity rows whole).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders WHERE o_orderkey % 10 <> 0
    """,
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input CSV ingestion: a file where 10% of rows are
    deliberately corrupted (unparseable numeric field), read with the
    tolerant DROPMALFORMED mode — the dirty-data path every real
    ingest hits. The surviving-row checksums ARE the result, so the
    reader's drop semantics are hash-pinned (PERMISSIVE-with-
    _corrupt_record is the row-preserving alternative; DROPMALFORMED
    is the one whose semantics DuckDB's ignore_errors mirrors).

    Scale shape: write and read are both distributed (one file per
    partition, line-grain corruption is a map-side expression);
    malformed-row handling is per-row in the reader — no skew, no
    shuffle beyond the final checksum aggregate.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    path = _scratch("orders_malformed_csv", sf_dir)
    lines = orders.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("NOT_A_NUMBER")).otherwise(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema("o_orderkey bigint, cents bigint")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_good"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# --- Z-order layout advisor ---------------------------------------------

ZORDER_BITS = 4          # 16 buckets per dimension
ZORDER_FILES = 32        # target file count for the simulated rewrite

def _interleave_sql(x: str, y: str) -> str:
    """Morton interleave of two 4-bit bucket ids as portable integer
    bit arithmetic (identical operators on Spark SQL and DuckDB)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_Z_MAX = 1 << (2 * ZORDER_BITS)          # 256 z-values
_ZF_DIV = _Z_MAX // ZORDER_FILES         # z-range per file
_LIN_BUCKETS = 1 << ZORDER_BITS


@register(
    "storage_zorder_advisor",
    oracle=f"""
    WITH ext AS (
      SELECT MAX(l_partkey) + 1 AS pmax, MAX(l_suppkey) + 1 AS smax
      FROM lineitem
    ), keyed AS (
      SELECT CAST(l_partkey * {_LIN_BUCKETS} // pmax AS BIGINT) AS x,
             CAST(l_suppkey * {_LIN_BUCKETS} // smax AS BIGINT) AS y,
             l_partkey, l_suppkey
      FROM lineitem, ext
    ), assigned AS (
      SELECT 'zorder' AS layout,
             ({_interleave_sql('x', 'y')}) // {_ZF_DIV} AS file_id,
             l_partkey, l_suppkey
      FROM keyed
      UNION ALL
      SELECT 'linear' AS layout,
             x * {ZORDER_FILES // _LIN_BUCKETS}
               + (y % {ZORDER_FILES // _LIN_BUCKETS}) AS file_id,
             l_partkey, l_suppkey
      FROM keyed
    ), files AS (
      SELECT layout, file_id, COUNT(*) AS n_rows,
             MAX(l_partkey) - MIN(l_partkey) AS part_span,
             MAX(l_suppkey) - MIN(l_suppkey) AS supp_span
      FROM assigned GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           floor(CAST(CAST(SUM(part_span) AS DOUBLE) / COUNT(*)
                 AS DOUBLE) * 10000 + 0.5) / 10000 AS avg_part_span,
           floor(CAST(CAST(SUM(supp_span) AS DOUBLE) / COUNT(*)
                 AS DOUBLE) * 10000 + 0.5) / 10000 AS avg_supp_span
    FROM files
    GROUP BY layout
    """,
)
def storage_zorder_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout advisor: simulate rewriting lineitem
    into {ZORDER_FILES} files clustered by the bit-interleaved
    (partkey, suppkey) bucket key vs a linear partkey-major sort, and
    report the per-file min/max span of BOTH dimensions. Narrow spans
    = effective parquet min/max row-group skipping for point filters
    on EITHER column — the measurement behind Delta/Iceberg OPTIMIZE
    ZORDER BY decisions before paying for a 100 TB rewrite.

    The file assignment is a pure function of the z-key (z DIV
    range-width), so the "rewrite" needs NO global sort — on a
    cluster this is repartitionByRange on zkey, writing each range as
    one file; here the advisor only aggregates the would-be layout:
    one map stage + two small aggregates, no shuffle wider than
    2 x {ZORDER_FILES} file rows. Bit interleave is exact integer
    arithmetic (shift/mask/add), identical on every engine — no UDF.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    ext = li.agg(
        (F.max("l_partkey") + 1).alias("pmax"),
        (F.max("l_suppkey") + 1).alias("smax"),
    )
    keyed = li.crossJoin(F.broadcast(ext)).select(
        F.floor(F.col("l_partkey") * _LIN_BUCKETS / F.col("pmax"))
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("l_suppkey") * _LIN_BUCKETS / F.col("smax"))
        .cast("bigint")
        .alias("y"),
        "l_partkey",
        "l_suppkey",
    )
    zkey = F.expr(_interleave_sql("x", "y"))
    per_x = ZORDER_FILES // _LIN_BUCKETS
    assigned = keyed.select(
        F.lit("zorder").alias("layout"),
        F.floor(zkey / _ZF_DIV).cast("bigint").alias("file_id"),
        "l_partkey",
        "l_suppkey",
    ).unionAll(
        keyed.select(
            F.lit("linear").alias("layout"),
            (F.col("x") * per_x + (F.col("y") % per_x))
            .cast("bigint")
            .alias("file_id"),
            "l_partkey",
            "l_suppkey",
        )
    )
    files = assigned.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.max("l_partkey") - F.min("l_partkey")).alias("part_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("supp_span"),
    )
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        pround(F.sum("part_span").cast("double") / F.count(F.lit(1))).alias(
            "avg_part_span"
        ),
        pround(F.sum("supp_span").cast("double") / F.count(F.lit(1))).alias(
            "avg_supp_span"
        ),
    )


@register(
    "source_txnlog_snapshot",
    # The op materializes data files + a JSON commit log and resolves
    # the current snapshot by replaying the log; the oracle recomputes
    # the surviving CONTENT directly from the fixture: v2's compaction
    # replaced shard-0 with a copy that drops o_orderkey % 30 = 0.
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 30 <> 0
    GROUP BY o_orderstatus
    """,
)
def source_txnlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format snapshot resolution (the Delta/Iceberg core): a
    table is a SET OF FILES decided by replaying an ordered action
    log, never a directory listing. Three versioned commits are
    written — v0 adds shards 0/1, v1 adds shard 2, v2 "rewrites"
    shard 0 (remove + add of a copy with o_orderkey % 30 = 0 rows
    deleted) — and the reader derives the live file set as "paths
    whose LATEST action is add", then scans exactly those files.

    The log is metadata, O(files): reading it driver-side to build
    the scan's path list is what every table format's client does
    (the one justified collect in a source operator — the DATA never
    touches the driver). Scale shape: log replay is a last-action
    window over file actions (at 100 TB of data the log is still
    KB-MB); the data scan is an ordinary pruned parquet read over the
    surviving files.
    """
    o = load_tables(spark, sf_dir)["orders"]
    base = _scratch("txnlog", sf_dir)
    shard = lambda k: o.where(F.col("o_orderkey") % 3 == k)  # noqa: E731
    shard(0).write.mode("overwrite").parquet(f"{base}/f0")
    shard(1).write.mode("overwrite").parquet(f"{base}/f1")
    shard(2).write.mode("overwrite").parquet(f"{base}/f2")
    # the compacted rewrite of shard 0: delete o_orderkey % 30 == 0
    shard(0).where(F.col("o_orderkey") % 30 != 0).write.mode(
        "overwrite"
    ).parquet(f"{base}/f0_v2")
    actions = [
        (0, "add", f"{base}/f0"),
        (0, "add", f"{base}/f1"),
        (1, "add", f"{base}/f2"),
        (2, "remove", f"{base}/f0"),
        (2, "add", f"{base}/f0_v2"),
    ]
    log = spark.createDataFrame(actions, "version int, action string, path string")
    log.write.mode("overwrite").json(f"{base}/_log")
    # snapshot resolution: latest action per path wins
    from pyspark.sql.window import Window

    replay = (
        spark.read.json(f"{base}/_log")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("path").orderBy(F.col("version").desc())
            ),
        )
        .where((F.col("rn") == 1) & (F.col("action") == "add"))
    )
    live_paths = [r["path"] for r in replay.select("path").collect()]
    snap = spark.read.parquet(*sorted(live_paths))
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        exact_money_sum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "scan_table_checksum",
    # order-insensitive whole-table checksum: every row hashes (via
    # the full-row grid key sample_reservoir introduced) to a 63-bit
    # integer; the SUM of those integers is partition-order-free and
    # engine-portable — the pt-table-checksum / replication-consistency
    # primitive, one number per table.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(('0x' || substr(md5(
             CAST(l_orderkey AS VARCHAR) || '-'
             || CAST(l_partkey AS VARCHAR) || '-'
             || CAST(l_suppkey AS VARCHAR) || '-'
             || CAST(l_linenumber AS VARCHAR) || '-'
             || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '-'
             || CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     AS VARCHAR) || '-'
             || CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                     AS VARCHAR) || '-'
             || CAST(CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS VARCHAR)
             || '-' || l_returnflag || '-' || l_linestatus || '-'
             || strftime(l_shipdate, '%Y-%m-%d')), 1, 15))
             AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS row_checksum
    FROM lineitem
    """,
)
def scan_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum: each row maps to a 60-bit
    integer (first 15 hex chars of the full-row md5, every double
    lifted onto its exact integer grid first) and the table digest is
    their DECIMAL(38,0) SUM — commutative/associative, so ANY partitioning,
    engine, or row order produces the identical pair (n_rows,
    row_checksum). The replication-consistency primitive
    (pt-table-checksum, Debezium snapshot verification): run it on
    both sides of a copy and compare two BIGINTs instead of terabytes.

    Scale shape: pure map-side hash + ONE mergeable sum — the
    cheapest full-table integrity pass possible (no sort, no
    shuffle beyond one decimal + one long per partition). The
    38-digit decimal accumulator holds ~10^18 rows of 60-bit values.
    """
    from algebraicdb_spark.operators.warehouse import row_hash_input
    from algebraicdb_spark.sources.catalog import spread

    # spread() (guide §2.5): the per-row md5+conv map fuses into the
    # scan stage, which the single-row-group fixture caps at 3 tasks
    li = spread(load_tables(spark, sf_dir)["lineitem"])
    row_int = F.conv(
        F.substring(F.md5(row_hash_input(li)), 1, 15), 16, 10
    ).cast("bigint")
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        # DECIMAL(38,0) accumulation: 60-bit row values overflow an
        # int64 sum past ~8k rows; decimal summation is exact to 38
        # digits (~10^18 rows of headroom). Emitted as STRING: a
        # ~10^22 digest fits neither int64 nor an exact double, so a
        # raw decimal column invites client-side canonicalization
        # drift — digits-as-text is the portable wire form.
        F.sum(row_int.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("row_checksum"),
    )


SKIP_FILE_KEYS = 100  # orderkeys per synthetic file


@register(
    "scan_minmax_file_skipping",
    # File-skipping audit: rows assigned to synthetic files by
    # orderkey range, per-file min/max(l_shipdate) footers computed,
    # then a ship-date predicate is evaluated twice — against footers
    # (files whose [min,max] misses the range are skipped wholesale)
    # and against rows (true selectivity). The gap between "rows in
    # scanned files" and "matching rows" is the read amplification
    # min/max pruning leaves on an UNSORTED layout — the number
    # storage_zorder_advisor exists to shrink.
    oracle=f"""
    WITH assigned AS (
      SELECT l_orderkey // {SKIP_FILE_KEYS} AS file_id, l_shipdate
      FROM lineitem
    ), footers AS (
      SELECT file_id, COUNT(*) AS n_rows,
             MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi
      FROM assigned GROUP BY file_id
    ), pred AS (
      SELECT DATE '1995-01-01' AS lo_p, DATE '1995-03-31' AS hi_p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN f.hi >= p.lo_p AND f.lo <= p.hi_p
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped,
           CAST(SUM(CASE WHEN f.hi >= p.lo_p AND f.lo <= p.hi_p
                         THEN f.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM assigned a, pred p2
             WHERE a.l_shipdate >= p2.lo_p AND a.l_shipdate <= p2.hi_p)
             AS rows_matching
    FROM footers f CROSS JOIN pred p
    """,
)
def scan_minmax_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max footer skipping audit (the parquet/Delta data-skipping
    mechanic, made measurable): synthesize a file layout (orderkey
    ranges), compute each file's ship-date footer, and report how
    many files a quarter-range predicate can skip outright — plus the
    read amplification (rows in scanned files vs rows actually
    matching) that remains because ship dates are UNSORTED within
    orderkey files. The before-picture for storage_zorder_advisor's
    re-layout; together they quantify why sort order is a first-class
    storage decision at 100 TB.

    Scale shape: footer build is one hash agg on file_id (exactly the
    metadata pass a writer does); the audit is arithmetic on the
    footer grain (n/100 rows) + one exact count.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    lo_p, hi_p = "1995-01-01", "1995-03-31"
    assigned = li.select(
        (F.col("l_orderkey") / SKIP_FILE_KEYS).cast("bigint").alias("file_id"),
        F.col("l_shipdate").cast("date").alias("ship_d"),
    )
    footers = assigned.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ship_d").alias("lo"),
        F.max("ship_d").alias("hi"),
    )
    overlaps = (F.col("hi") >= F.lit(lo_p)) & (F.col("lo") <= F.lit(hi_p))
    audit = footers.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(overlaps, 0).otherwise(1)).cast("bigint").alias("n_skipped"),
        F.sum(F.when(overlaps, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
    )
    matching = assigned.where(
        (F.col("ship_d") >= F.lit(lo_p)) & (F.col("ship_d") <= F.lit(hi_p))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("rows_matching"))
    return audit.crossJoin(F.broadcast(matching))


@register(
    "scan_iceberg_evolution",
    # Partition EVOLUTION lifecycle: append A (o%4=0) under spec 0 =
    # identity(o_orderstatus), hand-evolve the metadata to spec 1 =
    # day(o_orderdate) exactly as a full client's ADD PARTITION FIELD
    # leaves it, append B (o%4=1) under the new spec, then one COW
    # DELETE (o%8 IN (0,1)) spanning files of BOTH specs. The oracle
    # recomputes the surviving content from the fixture.
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 8 NOT IN (0, 1)
    GROUP BY o_orderstatus
    """,
)
def scan_iceberg_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg PARTITION EVOLUTION (round 13): a long-lived table's
    spec changes (identity → day) without rewriting a byte; files
    written before the change stay keyed to THEIR spec. The COW
    delete's rewritten manifests carry each file's ORIGINAL spec-id
    (iceberg_writer._publish_mutation) — the structural assert pins
    that both spec ids survive in the post-delete manifest list — and
    the snapshot read spans both partition layouts transparently.
    Scale shape: evolution is O(metadata); the delete stays the usual
    probe + partial-rewrite COW plan."""
    import shutil

    from algebraicdb_spark.operators.iceberg import AvroFileReader
    from algebraicdb_spark.operators.iceberg_writer import (
        IcebergTableWriter,
    )

    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus",
        # the day() transform is defined over DATE; project the
        # fixture timestamp onto its YEAR as a date — a raw-date spec
        # would mint one partition (= one file) per distinct day,
        # thousands of tiny files at any SF, which is exactly the
        # over-partitioning a real table designer avoids (Iceberg has
        # year() for this; day-over-year-floor exercises the same
        # evolution machinery at a sane grain: one union branch per
        # live partition tuple is the scan plan's width)
        F.trunc(F.col("o_orderdate").cast("date"), "year")
        .alias("o_orderdate"),
        "o_totalprice",
    )
    base = _scratch("iceberg_evolution", sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    w = IcebergTableWriter(base)
    w.append(
        o.where(F.col("o_orderkey") % 4 == 0),
        partition_by=["o_orderstatus"],
    )
    # the evolution, hand-written into the metadata: spec 1 =
    # day(o_orderdate), default — byte-for-byte what ALTER TABLE …
    # ADD PARTITION FIELD day(o_orderdate) leaves behind
    base_v, cur = w._current()
    md = dict(cur)
    d_id = next(
        f["id"] for f in md["schemas"][0]["fields"]
        if f["name"] == "o_orderdate"
    )
    md["partition-specs"] = list(md["partition-specs"]) + [{
        "spec-id": 1,
        "fields": [{"name": "o_orderdate_day", "transform": "day",
                    "source-id": d_id, "field-id": 1001}],
    }]
    md["default-spec-id"] = 1
    md["last-partition-id"] = 1001
    w._publish_metadata(md, base_v)
    w.append(o.where(F.col("o_orderkey") % 4 == 1))
    w.delete(spark, "o_orderkey % 8 IN (0, 1)")
    rdr = w.reader()
    snap_meta = rdr._snapshot(None)
    spec_ids = {
        int(r.get("partition_spec_id", 0) or 0)
        for r in AvroFileReader(
            rdr._resolve(snap_meta["manifest-list"])
        ).records
        if int(r.get("content", 0) or 0) == 0
    }
    assert spec_ids == {0, 1}, (
        "rewritten manifests must keep their files' original specs"
    )
    snap = rdr.snapshot(spark)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        pround(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double"),
        ).alias("total"),
    )
