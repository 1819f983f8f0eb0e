"""Engine facade — the reference's user surface on Spark.

algebraicdb is a client/server DBMS whose users issue statements:
``CREATE TYPE`` (sum types), ``CREATE TABLE``, ``INSERT``, ``UPDATE``,
``DELETE``, ``DROP TABLE``, and ``SELECT`` with pattern matching —
both ``WHERE``-position patterns (``s: Circle(r)``) and exhaustive
``MATCH`` expressions. This facade provides that exact workflow on a
SparkSession (statement grammar and lowering:
:mod:`algebraicdb_spark.dialect`; mutations lower to view rewrites —
filtered view for DELETE, CASE-projected view for UPDATE):

    eng = Engine(spark, sf_dir="/root/testdata/sf0.01")   # fixtures
    eng.sql("CREATE TYPE Shape = Circle(r: Double) | Rect(w: Double, h: Double) | Point")
    eng.sql("CREATE TABLE shapes (id: Integer, s: Shape)")
    eng.sql("INSERT INTO shapes VALUES (1, Circle(2.0)), (2, Point)")
    eng.sql("SELECT id, r FROM shapes WHERE s: Circle(r) AND r > 1.0")
    eng.sql("DROP TABLE shapes")

SELECT and every other read statement delegate to Spark SQL after
pattern rewriting — Catalyst stays the planner/optimizer/executor
(SURVEY §3.2 E1), and patterns compile to tag predicates + struct
field accesses, never UDFs. The DataFrame-level ADT API
(:mod:`algebraicdb_spark.functions.adt`: construct / match /
is_variant / bind, with plan-time exhaustiveness) remains available
for programmatic use; the dialect is the statement-level twin.
"""

from __future__ import annotations

import json
import os
import re
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from algebraicdb_spark.dialect import (
    TableDef,
    expand_macros,
    parse_create_function,
    parse_create_table,
    parse_create_type,
    parse_insert_rows,
    rewrite_distinct_on,
    rewrite_match_exprs,
    rewrite_patterns,
    rewrite_qualify,
)
from algebraicdb_spark.dialect import (
    COPY_FORMATS,
    _ALTER_ADD_RE,
    _ATTACH_TABLE_RE,
    _OPTIMIZE_TABLE_RE,
    _REFRESH_TABLE_RE,
    _VACUUM_TABLE_RE,
    _ALTER_DROP_RE,
    _ALTER_RENAME_RE,
    _ALTER_TABLE_RE,
    _COPY_FROM_RE,
    _COPY_TO_RE,
    _CREATE_FUNCTION_RE,
    _CREATE_MATVIEW_RE,
    _CREATE_VIEW_RE,
    _CREATE_TABLE_RE,
    _CTAS_LAKEHOUSE_RE,
    _CTAS_RE,
    _CREATE_TYPE_RE,
    _DELETE_RE,
    _DESCRIBE_HISTORY_RE,
    _DESCRIBE_RE,
    _RESTORE_TABLE_RE,
    _SHOW_TBLPROPS_RE,
    _DROP_FUNCTION_RE,
    _DROP_MATVIEW_RE,
    _DROP_VIEW_RE,
    _DROP_TABLE_RE,
    _EXPLAIN_RE,
    _INSERT_RE,
    _MERGE_RE,
    _REFRESH_MATVIEW_RE,
    _SHOW_CREATE_RE,
    _SHOW_FUNCTIONS_RE,
    _SHOW_TABLES_RE,
    _ANALYZE_RE,
    _SHOW_STATS_RE,
    _TRUNCATE_RE,
    _UPDATE_RE,
    _UPSERT_RE,
    _value_expr,
    parse_copy_to_options,
    parse_update_sets,
    spark_type,
)
from algebraicdb_spark import fixpoint
from algebraicdb_spark.fixpoint import _HEAD_RE as _FIXPOINT_RE
from algebraicdb_spark.functions.adt import AdtError, AdtType, Variant
from algebraicdb_spark.session import get_spark
from algebraicdb_spark.sources.catalog import ensure_confs, load_tables

__all__ = ["Engine", "mutates", "parse_create_type"]

# `FROM t VERSION AS OF 3` / `FROM t FOR TIMESTAMP AS OF '…'` — the
# time-travel read sugar every lakehouse SQL dialect exposes; lowered
# in _rewrite to a pinned snapshot view so it composes with joins,
# CTAS, views, EXPLAIN, and the rest of the read grammar for free
# matched against _mask_strings output (literals replaced by
# \x00<k>\x00 placeholders), never raw SQL — a quoted string
# containing "… VERSION AS OF 3" must neither error nor be rewritten
_TIME_TRAVEL_RE = re.compile(
    r"\b(?P<name>[A-Za-z_]\w*)\s+(?:"
    r"VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|FOR\s+TIMESTAMP\s+AS\s+OF\s+\x00(?P<tsref>\d+)\x00)",
    re.IGNORECASE,
)

# `FROM CHANGES(t, <since> [, <to>])` — the SQL surface for the
# row-level change feed (rounds 11-12 built
# `changes_cdf`; round 13 puts it where dialect/server clients can
# reach it). Bounds are versions / snapshot ids, or quoted timestamps
# resolved through the SAME helper the time-travel sugar uses; matched
# against _mask_strings output like _TIME_TRAVEL_RE (placeholders are
# \x00<k>\x00), so CHANGES(...) inside a string literal is data.
_CHANGES_RE = re.compile(
    r"\bCHANGES\s*\(\s*(?P<name>[A-Za-z_]\w*)\s*,\s*"
    r"(?:(?P<since>\d+)|\x00(?P<sinceref>\d+)\x00)\s*"
    r"(?:,\s*(?:(?P<to>\d+)|\x00(?P<toref>\d+)\x00)\s*)?\)",
    re.IGNORECASE,
)


def _lakehouse_format(fmt: str, verb: str) -> str:
    """The normalized format name of an ATTACH / CREATE TABLE … FROM
    clause. ``txnlog`` — the engine's former private log format — is
    retired: its tables commit through the standard Delta protocol
    now, and the Delta reader cannot read a ``_log`` directory, so an
    alias would only fail later with a less useful message."""
    fmt = fmt.lower()
    if fmt == "txnlog":
        raise AdtError(
            f"{verb}: the txnlog format is retired — use FROM delta "
            "(standard Delta tables support the same commits, time "
            "travel, CHANGES and maintenance)"
        )
    return fmt


def _reader(fmt: str, path: str):
    """The read-side table object behind an attached format."""
    from algebraicdb_spark.operators.iceberg import IcebergTable
    from algebraicdb_spark.operators.txnlog import DeltaLogTable

    return {"delta": DeltaLogTable, "iceberg": IcebergTable}[fmt](path)


def _writer(fmt: str, path: str):
    """The writer behind an attached format: commits, mutations,
    maintenance and properties."""
    from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
    from algebraicdb_spark.operators.iceberg_writer import (
        IcebergTableWriter,
    )

    return {"delta": DeltaTableWriter, "iceberg": IcebergTableWriter}[fmt](
        path
    )


class Engine:
    """A session-scoped analytics engine over parquet tables + ADTs."""

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        ensure_confs(self.spark)
        self._types: dict[str, AdtType] = {}
        self._tables: dict[str, TableDef] = {}
        self._matviews: dict[str, str] = {}  # name -> defining dialect SQL
        self._functions: dict[str, tuple[list[str], str]] = {}  # macros
        self._views: dict[str, str] = {}  # name -> defining dialect SQL
        self._stats: dict[str, list[tuple]] = {}  # name -> ANALYZE rows
        # name -> {"fmt", "path", "version"} for ATTACHed lakehouse tables
        self._attached: dict[str, dict] = {}
        # serializes the catalog-writing statements (the table's
        # ``mutates`` entries); reads never take it
        self._lock = threading.Lock()
        if sf_dir:
            self.attach(sf_dir)

    # -- catalog -------------------------------------------------------

    def attach(self, sf_dir: str) -> None:
        """Register the fixture tables from a scale-factor directory."""
        load_tables(self.spark, sf_dir)

    def create_table(
        self,
        name: str,
        df: DataFrame,
        adt_columns: dict[str, AdtType] | None = None,
    ) -> None:
        """Register a DataFrame as a table; ``adt_columns`` marks which
        columns hold ADT encodings so dialect patterns can resolve."""
        df.createOrReplaceTempView(name)
        cols: dict[str, str | AdtType] = {
            f.name: (adt_columns or {}).get(f.name, f.dataType.simpleString())
            for f in df.schema.fields
        }
        self._tables[name] = TableDef(name, cols)
        # redefining a name detaches it: CTAS/CREATE TABLE over an
        # ATTACHed name must not leave maintenance statements and the
        # catalog round-trip pointing at the old lakehouse table
        # (attachers re-register AFTER this call)
        self._attached.pop(name, None)
        self._invalidate_stats(name)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def _attach_table_stmt(
        self, name: str, fmt: str, path: str, version: str | None
    ) -> DataFrame:
        """ATTACH TABLE n FROM delta|iceberg LOCATION '<path>'
        [VERSION v] — register a transactional lakehouse table (ours,
        or one Delta/Iceberg systems maintain) as a queryable SQL
        table. The snapshot's FILE LIST is resolved at ATTACH time
        (the log/metadata fold is driver-side KBs); the data itself
        stays a lazy pruned parquet scan. Re-ATTACH to advance to new
        commits, or pin VERSION (delta: version; iceberg: snapshot
        id) for a reproducible historical read — time travel from the
        REPL."""
        fmt = _lakehouse_format(fmt, "ATTACH TABLE")
        v = int(version) if version is not None else None
        df = _reader(fmt, path).snapshot(self.spark, v)
        self.create_table(name, df)
        self._attached[name] = {"fmt": fmt, "path": path, "version": v}
        return df

    def _ctas_lakehouse_stmt(self, m) -> DataFrame:
        """``CREATE TABLE n FROM delta|iceberg LOCATION 'p'
        [PARTITION BY (c,…)] AS SELECT …`` — CTAS straight into a REAL
        lakehouse table: the query result commits through the format's
        writer (version 0 / first snapshot) and the name attaches,
        so the created table is immediately transactional — time
        travel, COW mutation, OPTIMIZE/VACUUM, and consumption by
        other engines all work from commit zero. The location must be
        empty of commits (CREATE creates; append to an existing table
        with COPY/INSERT after ATTACH)."""
        from algebraicdb_spark.dialect import _split_top_level

        name, path = m.group("name"), m.group("path")
        fmt = _lakehouse_format(m.group("fmt"), f"CREATE TABLE {name}")
        # top-level split: iceberg transform calls carry commas of
        # their own (bucket(4, k))
        parts = [
            c.strip()
            for c in _split_top_level(m.group("parts") or "", ",")
            if c.strip()
        ]
        if fmt != "iceberg" and any("(" in c for c in parts):
            raise AdtError(
                f"CREATE TABLE {name}: partition transforms are an "
                f"iceberg spec feature — {fmt} partitions by plain "
                "column values"
            )
        df = self.spark.sql(self._rewrite(m.group("query")))
        w = _writer(fmt, path)
        exists = (
            w._current()[1] is not None if fmt == "iceberg"
            else w.latest_version() >= 0
        )
        if exists:
            raise AdtError(
                f"CREATE TABLE {name}: {path!r} already holds a {fmt} "
                "table — ATTACH it and append instead"
            )
        try:
            w.append(df, partition_by=parts or None)
        except (ValueError, NotImplementedError) as exc:
            raise AdtError(f"CREATE TABLE {name}: {exc}") from exc
        return self._attach_table_stmt(name, fmt, path, None)

    def _maintain_attached(self, name: str, op: str, **kw) -> DataFrame | None:
        """OPTIMIZE TABLE / VACUUM / REFRESH TABLE over an ATTACHed
        table, through the format's writer: standard Delta
        (`DeltaTableWriter` — compaction AND `ZORDER BY` re-clustering
        commit `dataChange: false` removes+adds other Delta engines
        understand and skip-scan) and standard Iceberg
        (`IcebergTableWriter` — OPTIMIZE compacts via a `replace`
        snapshot, `ZORDER BY` re-clusters with manifest bounds, VACUUM
        expires snapshots). After a mutating op the view re-registers
        on the fresh snapshot (the file list changed even though
        content didn't). REFRESH just re-resolves the snapshot to pick
        up new commits."""
        if name not in self._attached:
            raise AdtError(
                f"{op.upper()}: {name!r} is not an ATTACHed table"
            )
        att = self._attached[name]
        fmt, path = att["fmt"], att["path"]
        if op == "refresh":
            # a refresh IS a re-ATTACH at latest (pin cleared)
            return self._attach_table_stmt(name, fmt, path, None)
        t = _writer(fmt, path)
        if fmt == "iceberg":
            # OPTIMIZE = rewrite_data_files (a `replace` snapshot the
            # change feed skips); VACUUM = expire_snapshots (metadata
            # drop + physical reclaim of files reachable only from
            # expired snapshots)
            if op == "optimize":
                t.optimize(self.spark, zorder_by=kw.get("zorder_by"))
            else:
                t.expire_snapshots(retain_last=kw.get("retain_versions", 2))
        elif op == "optimize":
            t.optimize(self.spark, **kw)
        else:
            t.vacuum(**kw)
        df = t.snapshot(self.spark)
        self.create_table(name, df)
        # create_table detached the name; re-register at latest
        self._attached[name] = {"fmt": fmt, "path": path, "version": None}
        return df

    def _optimize_stmt(self, m: re.Match) -> DataFrame:
        cols = m.group("cols")
        return self._maintain_attached(
            m.group("name"), "optimize",
            zorder_by=[c.strip() for c in cols.split(",")] if cols else None,
        )

    def _vacuum_stmt(self, m: re.Match) -> DataFrame:
        r = m.group("retain")
        return self._maintain_attached(
            m.group("name"), "vacuum", retain_versions=int(r) if r else 2
        )

    def _refresh_table_stmt(self, m: re.Match) -> DataFrame:
        name = m.group("name")
        if name in self._attached:
            return self._maintain_attached(name, "refresh")
        # not ours: Spark's own REFRESH TABLE (metadata cache)
        return self.spark.sql(m.string)

    # -- statements ----------------------------------------------------

    def sql_script(self, script: str) -> DataFrame | AdtType | None:
        """Execute a ``;``-separated multi-statement script in order,
        returning the LAST statement's result — what a REPL paste or a
        migration file needs. Splitting respects string literals and
        parentheses (a ';' inside a quoted value or a subquery never
        splits), empty fragments and trailing semicolons are ignored,
        and any statement error aborts the remainder (statements
        before it have already executed — the dialect has no
        transactional DDL, matching Spark itself)."""
        from algebraicdb_spark.dialect import _split_top_level

        result: DataFrame | AdtType | None = None
        for stmt in _split_top_level(script, ";"):
            if stmt.strip():
                result = self.sql(stmt)
        return result

    def sql(
        self, stmt: str, params: dict | list | None = None
    ) -> DataFrame | AdtType | None:
        """Run one statement of the dialect.

        A statement matching an entry of ``_STATEMENTS`` is an engine
        statement (Spark lacks it) and runs its handler; catalog-writing
        entries run under the engine's lock, so concurrent mutations on
        one session never lose each other's view swaps. Anything else is
        pattern-rewritten and handed to Spark SQL. ``params`` binds named
        (``:name`` + dict) or positional (``?`` + list) parameters on
        that read path via Spark's parameterized SQL — values never
        enter the statement text, so clients need no quoting/escaping
        (the server exposes this as the request's ``params`` field).
        Engine statements refuse params.
        """
        route = _route(stmt)
        if route is None:
            return self.spark.sql(self._rewrite(stmt), args=params)
        handler, m, writes = route
        if params is not None:
            head = " ".join(stmt.split()[:2]).upper()
            raise AdtError(
                f"{head}: engine statements do not accept bound "
                "parameters — only plain reads bind them"
            )
        if not writes:
            return handler(self, m)
        with self._lock:
            return handler(self, m)

    def _fixpoint_stmt(self, m: re.Match) -> DataFrame:
        # looked up per call: the module function is the public hook
        return fixpoint.run_fixpoint(self.spark, m.string, self._rewrite)

    def _explain_stmt(self, m: re.Match) -> DataFrame:
        """EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST|SCALE|ANALYZE] <read stmt>.

        The inner statement goes through the same pattern lowering as
        a plain read, then Spark's own EXPLAIN renders the Catalyst
        plan — so users can see that an ADT match compiled to tag
        predicates + struct accesses (and that pushdown/broadcast
        happened), exactly what a DBA asks a server for. EXPLAIN SCALE
        instead runs this repo's scale linter over the physical plan
        and returns its findings as rows — the 100 TB design review
        (cartesian products, global windows, row-at-a-time Python,
        shuffle counts) available to every client over the wire.
        EXPLAIN ANALYZE EXECUTES the statement (JVM-side, no rows ever
        reach the driver) and returns the per-operator runtime metrics
        from the executed plan — actual row counts, spill, shuffle
        bytes, scan/agg times. All modes are reads and run without the
        engine lock (plain EXPLAIN never executes, ANALYZE executes
        but mutates nothing)."""
        mode = (m.group("mode") or "FORMATTED").upper()
        if _FIXPOINT_RE.match(m.group("query")):
            if mode == "SCALE":
                # no single Catalyst plan to lint, but the statement
                # itself carries the scale story: a pair-materializing
                # accumulator is quadratic by SQL semantics no matter
                # how the rounds execute — warn statically and name
                # the WITH ITERATE linear-state alternative
                from algebraicdb_spark.plans.scalelint import lint_fixpoint

                findings = lint_fixpoint(m.group("query")) or [
                    ("ok", "CLEAN", "no scale findings")
                ]
                return self.spark.createDataFrame(
                    findings, "severity string, code string, finding string"
                )
            # the driver-coordinated lowering has no single Catalyst
            # plan; Spark's native message for the UNION-distinct form
            # (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) would mislead
            raise AdtError(
                "EXPLAIN is not supported for WITH RECURSIVE / WITH "
                "ITERATE statements — the fixpoint executes as a loop "
                "of per-round plans; EXPLAIN SCALE runs the static "
                "fixpoint lint; for other modes EXPLAIN the anchor "
                "and step queries individually"
            )
        lowered = self._rewrite(m.group("query"))
        if mode == "SCALE":
            from algebraicdb_spark.plans.scalelint import lint

            self._assert_query_plan(lowered, "EXPLAIN SCALE")
            findings = lint(self.spark.sql(lowered)) or [
                ("ok", "CLEAN", "no scale findings")
            ]
            return self.spark.createDataFrame(
                findings, "severity string, code string, finding string"
            )
        if mode == "ANALYZE":
            self._assert_query_plan(lowered, "EXPLAIN ANALYZE")
            return self._explain_analyze(lowered)
        return self.spark.sql(f"EXPLAIN {mode} {lowered}")

    def _assert_query_plan(self, lowered_sql: str, ctx: str) -> None:
        """Reject non-query inner statements for the EXPLAIN modes that
        must run the plan. ``spark.sql`` executes commands EAGERLY at
        the call site, so ``EXPLAIN ANALYZE CREATE TABLE t AS …`` would
        create a real table — and, because EXPLAIN is classified as a
        lock-free read, do so past the engine's mutation lock (round-4
        ADVICE, medium). The check is parse-only (no execution): the
        statement is rejected when Catalyst parses it to a ``Command``
        node or a DDL/DML ``*Statement`` node."""
        parser = self.spark._jsparkSession.sessionState().sqlParser()
        try:
            plan = parser.parsePlan(lowered_sql)
        except Exception as exc:
            raise AdtError(f"{ctx}: inner statement failed to parse") from exc
        cmd_cls = self.spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.plans.logical.Command"
        )
        cls_name = plan.getClass().getSimpleName()
        if cmd_cls.isInstance(plan) or cls_name.endswith("Statement"):
            raise AdtError(
                f"{ctx} executes its inner statement and therefore only "
                f"accepts queries, not commands (got {cls_name}); run the "
                "command directly through sql() instead"
            )

    def _explain_analyze(self, lowered_sql: str) -> DataFrame:
        """Execute the lowered statement via ``QueryExecution.toRdd``
        (a JVM-only count — full execution, zero driver row transfer,
        so a 100 TB ANALYZE costs one pass and O(1) driver memory) and
        walk the executed plan for its SQLMetric values. AQE wrappers
        (AdaptiveSparkPlan / *QueryStage) are descended so post-reopt
        final-stage metrics are reported, not the pre-run skeleton."""
        df = self.spark.sql(lowered_sql)
        qe = df._jdf.queryExecution()
        n_rows = qe.toRdd().count()
        rows: list[tuple[int, str, str, int]] = []

        def walk(node, depth: int) -> None:
            name = node.nodeName()
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                value = int(kv._2().value())
                if value != 0:
                    rows.append((depth, name, kv._1(), value))
            if name == "AdaptiveSparkPlan":
                walk(node.executedPlan(), depth + 1)
                return
            if "QueryStage" in name:
                walk(node.plan(), depth + 1)
                return
            children = node.children()
            for i in range(children.size()):
                walk(children.apply(i), depth + 1)

        walk(qe.executedPlan(), 0)
        rows.append((0, "<result>", "numOutputRows", int(n_rows)))
        return self.spark.createDataFrame(
            rows, "depth int, operator string, metric string, value bigint"
        )

    def _create_matview(self, name: str, query: str) -> None:
        """CREATE MATERIALIZED VIEW v AS SELECT … — a snapshot of the
        defining query's result, pinned as a cached DataFrame.

        Semantics (the classic non-incremental MV): the view reflects
        table state AT DEFINITION TIME and stays stable while base
        tables mutate (our mutations are view rewrites over immutable
        parquet, so even a cache eviction recomputes the same
        snapshot — the captured plan still reads the definition-time
        views). REFRESH re-parses the defining SQL against the CURRENT
        catalog. Spark-first: materialization is `.cache()` — on a
        cluster the snapshot lives in executor block storage,
        partitioned like the query output; swap for a parquet CTAS if
        it must outlive the session."""
        if name in self._matviews:
            raise AdtError(f"materialized view {name!r} already exists")
        df = self.spark.sql(self._rewrite(query))
        df.cache().count()  # materialize eagerly so reads never re-plan
        df.createOrReplaceTempView(name)
        self._matviews[name] = query

    def _refresh_matview(self, name: str) -> None:
        if name not in self._matviews:
            raise AdtError(f"REFRESH: unknown materialized view {name!r}")
        self.spark.table(name).unpersist()
        df = self.spark.sql(self._rewrite(self._matviews[name]))
        df.cache().count()
        df.createOrReplaceTempView(name)

    def _drop_matview(self, name: str) -> None:
        if name not in self._matviews:
            raise AdtError(f"DROP MATERIALIZED VIEW: unknown view {name!r}")
        self.spark.table(name).unpersist()
        self.spark.catalog.dropTempView(name)
        del self._matviews[name]

    def _show_tables_stmt(self, m: re.Match) -> DataFrame:
        """SHOW TABLES — every temp view visible to this session."""
        names = [
            (t.name,) for t in self.spark.catalog.listTables() if t.isTemporary
        ]
        return self.spark.createDataFrame(sorted(names), "table_name string")

    _STATS_SCHEMA = (
        "column_name string, n_rows bigint, ndv_approx bigint, n_nulls bigint"
    )

    def _analyze_stmt(self, m: re.Match) -> DataFrame:
        """ANALYZE [TABLE] t — one scan computing per-column statistics
        (row count, HLL approx-NDV, null count), cached on the engine
        and returned as rows. SHOW STATS t reads the cache.

        Spark temp views cannot hold catalog statistics (so this cache
        is engine metadata, not CBO input — for stats-driven join
        reordering over the parquet fixtures use
        ``sources.catalog.analyze_tables``, which registers external
        catalog tables and runs Spark's own ANALYZE on them; SCALE.md
        §4 documents the split). One job, all columns at once: the
        aggregate ships count + approx_count_distinct + null-count
        partials per column in a single pass — never one scan per
        column.
        """
        name = m.group("name")
        try:
            df = self.spark.table(name)
        except Exception as exc:  # unknown view/table
            raise AdtError(f"ANALYZE: no such table: {name}") from exc
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in df.columns:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}")
            )
        row = df.agg(*aggs).collect()[0]
        stats = [
            (c, row["__n"], row[f"__ndv_{c}"], row[f"__nn_{c}"])
            for c in df.columns
        ]
        self._stats[name] = stats
        return self.spark.createDataFrame(stats, self._STATS_SCHEMA)

    def _show_stats_stmt(self, m: re.Match) -> DataFrame:
        """SHOW STATS [FOR] t — the cached ANALYZE rows (error if the
        table was never analyzed; re-ANALYZE after mutations, exactly
        as other warehouses require)."""
        name = m.group("name")
        if name not in self._stats:
            raise AdtError(f"SHOW STATS: {name} has not been ANALYZEd")
        return self.spark.createDataFrame(self._stats[name], self._STATS_SCHEMA)

    def _show_create_stmt(self, m: re.Match) -> DataFrame:
        """SHOW CREATE TABLE t — a round-trippable dialect DDL string:
        dialect tables print their declared column types (ADT columns
        by type NAME), materialized views their defining query,
        attached fixture views their live Spark schema."""
        name = m.group("name")
        if name in self._matviews:
            stmt = f"CREATE MATERIALIZED VIEW {name} AS {self._matviews[name]}"
            return self.spark.createDataFrame([(stmt,)], "create_stmt string")
        if name in self._views:
            stmt = f"CREATE VIEW {name} AS {self._views[name]}"
            return self.spark.createDataFrame([(stmt,)], "create_stmt string")
        td = self._tables.get(name)
        if td is not None:
            cols = ", ".join(
                f"{c}: {t.name if isinstance(t, AdtType) else t}"
                for c, t in td.columns.items()
            )
        else:
            try:
                fields = self.spark.table(name).schema.fields
            except Exception as exc:
                raise AdtError(
                    f"SHOW CREATE TABLE: unknown table {name!r}"
                ) from exc
            cols = ", ".join(f"{f.name}: {f.dataType.simpleString()}" for f in fields)
        stmt = f"CREATE TABLE {name} ({cols})"
        return self.spark.createDataFrame([(stmt,)], "create_stmt string")

    def _restore_stmt(self, m: re.Match) -> None:
        """RESTORE TABLE n TO VERSION AS OF v / TO TIMESTAMP AS OF 'ts'
        — rollback an ATTACHed table to an earlier state as ONE new
        commit, history preserved (the write-side twin of the AS-OF
        read sugar): delta restores by re-adding the target
        version's live set (zero bytes copied — see
        `DeltaTableWriter.restore`), iceberg
        rolls the current-snapshot pointer back (metadata-only,
        `IcebergTableWriter.rollback`). Past-retention targets refuse
        through the writers' own loud errors; a VERSION-pinned
        attachment refuses (mutating a historical pin); the view
        re-registers on the restored snapshot."""
        name, ver, ts = m.group("name", "ver", "ts")
        self._refuse_view_mutation("RESTORE", name)
        if name not in self._attached:
            raise AdtError(
                f"RESTORE TABLE: {name!r} is not an ATTACHed table "
                "(dialect tables are views — they have no commit log)"
            )
        att = self._attached[name]
        if att.get("version") is not None:
            raise AdtError(
                f"RESTORE TABLE {name!r}: the attachment is pinned to "
                f"version {att['version']} — a historical snapshot is "
                "immutable; re-ATTACH at latest first"
            )
        v = int(ver) if ver is not None else self._version_at_timestamp(
            att, ts
        )
        fmt = att["fmt"]
        t = _writer(fmt, att["path"])
        try:
            if fmt == "iceberg":
                t.rollback(v)
            else:
                t.restore(v)
        except (ValueError, NotImplementedError) as exc:
            raise AdtError(f"RESTORE TABLE {name!r}: {exc}") from exc
        # re-register on the restored snapshot — via the mutation
        # reattach, which handles the all-rows-deleted edge (a restore
        # TO an empty version is legal state, not an attach error)
        self._reattach_after_mutation(name, t)
        return None

    def _show_tblprops_stmt(self, m: re.Match) -> DataFrame:
        """SHOW TBLPROPERTIES n — the properties/configuration map of
        an ATTACHed lakehouse table (iceberg properties, delta
        configuration), one (key, value) row each."""
        name = m.group("name")
        if name not in self._attached:
            raise AdtError(
                f"SHOW TBLPROPERTIES: {name!r} is not an ATTACHed "
                "table (dialect tables carry no properties)"
            )
        att = self._attached[name]
        props = _writer(att["fmt"], att["path"]).properties()
        rows = sorted((str(k), str(v)) for k, v in props.items())
        return self.spark.createDataFrame(
            rows or [], "key string, value string"
        )

    def _describe_history_stmt(self, m: re.Match) -> DataFrame:
        """DESCRIBE HISTORY n — the commit/snapshot audit trail of an
        ATTACHed lakehouse table: delta (commitInfo operations),
        iceberg (snapshot summaries). One row per surviving
        commit/snapshot, newest last."""
        name = m.group("name")
        if name not in self._attached:
            raise AdtError(
                f"DESCRIBE HISTORY: {name!r} is not an ATTACHed table "
                "(dialect tables are views — they have no commit log)"
            )
        att = self._attached[name]
        rdr = _reader(att["fmt"], att["path"])
        if att["fmt"] == "delta":
            rows = [(h["version"], h["operation"]) for h in rdr.history()]
            return self.spark.createDataFrame(
                rows or [], "version long, operation string"
            )
        rows = [
            (s["snapshot-id"], s.get("parent-snapshot-id"),
             (s.get("summary") or {}).get("operation"))
            for s in rdr.snapshots()
        ]
        return self.spark.createDataFrame(
            rows or [],
            "snapshot_id long, parent_snapshot_id long, operation string",
        )

    def _describe_stmt(self, m: re.Match) -> DataFrame:
        """DESCRIBE t — column names and types; ADT-typed columns
        declared through the dialect report their type NAME (the
        user-facing contract), not the struct encoding."""
        name = m.group("name")
        td = self._tables.get(name)
        adt_cols = td.adt_columns if td else {}
        try:
            fields = self.spark.table(name).schema.fields
        except Exception as exc:
            raise AdtError(f"DESCRIBE: unknown table {name!r}") from exc
        rows = [
            (
                f.name,
                adt_cols[f.name].name
                if f.name in adt_cols
                else f.dataType.simpleString(),
            )
            for f in fields
        ]
        return self.spark.createDataFrame(rows, "column_name string, type string")

    def _create_type_stmt(self, m: re.Match) -> AdtType:
        adt = parse_create_type(m.string, self._types)
        self._types[adt.name] = adt
        return adt

    def _ctas_stmt(self, m: re.Match) -> DataFrame:
        df = self.spark.sql(self._rewrite(m.group("query")))
        self.create_table(m.group("name"), df)
        return df

    def _create_table_stmt(self, m: re.Match) -> None:
        td = parse_create_table(m.string, self._types)
        empty = self.spark.createDataFrame([], td.schema_ddl())
        empty.createOrReplaceTempView(td.name)
        self._tables[td.name] = td
        self._invalidate_stats(td.name)

    def _drop_table_stmt(self, m: re.Match) -> None:
        name = m.group("name")
        if name in self._views:
            raise AdtError(f"{name} is a view — use DROP VIEW")
        self.spark.catalog.dropTempView(name)
        self._tables.pop(name, None)
        # a dropped ATTACHment must not resurrect through the catalog
        # round-trip
        self._attached.pop(name, None)
        self._invalidate_stats(name)

    def _alter_table_stmt(self, m: re.Match) -> None:
        """ALTER TABLE t ADD COLUMN c: Type [DEFAULT expr] | DROP
        COLUMN c | RENAME COLUMN a TO b — lowered to a projected view
        replacement (the same mechanism as UPDATE/CTAS), with the
        catalog entry updated so later patterns/DESCRIBE/save_catalog
        see the new shape. Works on dialect tables and on any attached
        view (fixture tables auto-register a TableDef on first ALTER).
        Existing rows get the DEFAULT (or NULL) for an added column —
        pairing with evolution-on-read (`source_schema_evolution`),
        which handles the same widening at the parquet scan."""
        name, action = m.group("name"), m.group("action").strip()
        if name in self._views:
            raise AdtError(
                f"ALTER TABLE: {name!r} is a view — alter its defining "
                "query (CREATE OR REPLACE VIEW) instead"
            )
        if name in self._matviews:
            raise AdtError(
                f"ALTER TABLE: {name!r} is a materialized view — alter its "
                "defining query (DROP + CREATE MATERIALIZED VIEW) instead"
            )
        if name in self._attached:
            # a view-swap ALTER on an attached table would revert on
            # REFRESH (the round-10 silent-loss class) — ADD COLUMN
            # commits a metaData-only evolution through the log;
            # DROP/RENAME need column mapping / a rewrite and refuse
            return self._alter_attached(name, action)
        td = self._tables.get(name)
        if td is None:
            try:
                fields = self.spark.table(name).schema.fields
            except Exception as exc:
                raise AdtError(f"ALTER TABLE: unknown table {name!r}") from exc
            td = TableDef(name, {f.name: f.dataType.simpleString() for f in fields})
            self._tables[name] = td

        if am := _ALTER_ADD_RE.match(action):
            col, tname = am.group("col"), am.group("type")
            if col in td.columns:
                raise AdtError(f"ALTER TABLE {name}: column {col!r} already exists")
            typ: str | AdtType = self._types.get(tname, spark_type(tname))
            ddl = typ.schema_ddl() if isinstance(typ, AdtType) else typ
            if am.group("default") is not None:
                value = _value_expr(am.group("default").strip(), typ, self._types)
            else:
                value = f"CAST(NULL AS {ddl})"
            widened = self.spark.sql(
                f"SELECT *, {value} AS {col} FROM {name}"
            )
            widened.createOrReplaceTempView(name)
            td.columns[col] = typ
        elif dm := _ALTER_DROP_RE.match(action):
            col = dm.group("col")
            if col not in td.columns:
                raise AdtError(f"ALTER TABLE {name}: unknown column {col!r}")
            if len(td.columns) == 1:
                raise AdtError(f"ALTER TABLE {name}: cannot drop the only column")
            kept = [c for c in td.columns if c != col]
            self.spark.sql(
                f"SELECT {', '.join(kept)} FROM {name}"
            ).createOrReplaceTempView(name)
            del td.columns[col]
        elif rm := _ALTER_RENAME_RE.match(action):
            old, new = rm.group("old"), rm.group("new")
            if old not in td.columns:
                raise AdtError(f"ALTER TABLE {name}: unknown column {old!r}")
            if new in td.columns:
                raise AdtError(f"ALTER TABLE {name}: column {new!r} already exists")
            items = [
                f"{c} AS {new}" if c == old else c for c in td.columns
            ]
            self.spark.sql(
                f"SELECT {', '.join(items)} FROM {name}"
            ).createOrReplaceTempView(name)
            td.columns = {
                (new if c == old else c): t for c, t in td.columns.items()
            }
        else:
            raise AdtError(
                f"unsupported ALTER TABLE action: {action!r} (supported: "
                "ADD COLUMN c: Type [DEFAULT expr], DROP COLUMN c, "
                "RENAME COLUMN a TO b)"
            )
        self._invalidate_stats(name)

    def _alter_attached(self, name: str, action: str) -> None:
        """ALTER TABLE on an ATTACHed lakehouse table: ADD COLUMN
        commits a METADATA-ONLY additive evolution through the table's
        own log (no data rewrite — reads pin the schema and surface
        NULL in old files; the transactional twin of the view-swap
        ALTER). DROP/RENAME refuse: on the standard format they
        require column mapping, and a faithful rewrite is an
        overwrite-shaped operation; DEFAULT backfill refuses too (it
        rewrites every row — ADD without DEFAULT, then UPDATE)."""
        att = self._attached[name]
        sp = re.fullmatch(
            r"SET\s+PROPERTIES\s*\((?P<kvs>.+)\)",
            action, re.IGNORECASE | re.DOTALL,
        )
        if sp:
            # table properties are the formats' own knob surface
            # (iceberg `write.<op>.mode=merge-on-read`, delta
            # configuration) — committed through the REAL writers, so
            # every engine sees them; '' as the value DELETES the key
            if att["version"] is not None:
                raise AdtError(
                    f"ALTER TABLE: {name!r} is pinned at VERSION "
                    f"{att['version']} — re-ATTACH at latest first"
                )
            pair_re = r"'([^']*)'\s*=\s*'([^']*)'"
            kvs = sp.group("kvs")
            pairs = re.findall(pair_re, kvs)
            # the whole list must be well-formed pairs — silently
            # dropping a malformed segment (unquoted key, stray text)
            # would tell the user a property was set when it wasn't
            residue = re.sub(pair_re, "", kvs).replace(",", "").strip()
            if not pairs or residue:
                raise AdtError(
                    "ALTER TABLE … SET PROPERTIES expects "
                    "('key' = 'value', …) single-quoted string pairs"
                    + (f" — could not parse: {residue!r}" if residue
                       else "")
                )
            props = dict(pairs)
            w = _writer(att["fmt"], att["path"])
            try:
                if att["fmt"] == "iceberg":
                    w.set_properties(props)
                else:
                    # spark rides along so ALTER ADD CONSTRAINT can
                    # validate the table's existing rows
                    w.set_properties(props, spark=self.spark)
            except (ValueError, NotImplementedError) as exc:
                raise AdtError(f"ALTER TABLE {name}: {exc}") from exc
            return None
        if att["fmt"] == "iceberg":
            raise AdtError(
                f"ALTER TABLE: schema evolution on iceberg attachment "
                f"{name!r} needs field-id assignment this writer does "
                "not do — evolve it with its owning system (SET "
                "PROPERTIES works; mutation/maintenance work)"
            )
        if att["version"] is not None:
            raise AdtError(
                f"ALTER TABLE: {name!r} is pinned at VERSION "
                f"{att['version']} — re-ATTACH at latest before evolving"
            )
        t = _writer(att["fmt"], att["path"])
        if re.fullmatch(
            r"ENABLE\s+DELETION\s+VECTORS", action, re.IGNORECASE
        ):
            t.enable_deletion_vectors()
            return None
        am = _ALTER_ADD_RE.match(action)
        if am is None:
            raise AdtError(
                f"ALTER TABLE on attached table {name!r} supports ADD "
                "COLUMN only (DROP needs column mapping, RENAME a "
                "rewrite — evolve those with the owning system)"
            )
        if am.group("default") is not None:
            raise AdtError(
                f"ALTER TABLE {name}: DEFAULT backfill rewrites every "
                "row of a lakehouse table — ADD the column (old rows "
                "read NULL), then UPDATE to backfill"
            )
        col, tname = am.group("col"), am.group("type")
        if tname in self._types:
            raise AdtError(
                f"ALTER TABLE {name}: ADT-typed columns are dialect-"
                "table metadata — a lakehouse schemaString cannot carry "
                f"the {tname} declaration; add a struct column via the "
                "owning writer instead"
            )
        try:
            t.evolve_add_column(col, spark_type(tname))
        except ValueError as exc:
            raise AdtError(f"ALTER TABLE {name}: {exc}") from exc
        self._attach_table_stmt(name, att["fmt"], att["path"], None)
        return None

    @staticmethod
    def _copy_format(fmt: str | None) -> str:
        fmt = (fmt or "parquet").lower()
        if fmt not in COPY_FORMATS:
            raise AdtError(
                f"COPY: unsupported format {fmt!r} (supported: "
                f"{', '.join(COPY_FORMATS)})"
            )
        return fmt

    def _copy_to_stmt(self, m: re.Match) -> None:
        """COPY t TO 'path' / COPY (SELECT …) TO 'path' (FORMAT
        parquet|csv|json|orc[, OVERWRITE]) — export a table or query
        result as files. A distributed write (one file per partition),
        the same path a 100 TB export takes; CSV gets a header row so
        round-trips keep column names. The query form goes through the
        same pattern lowering as any read. An existing target is an
        ERROR unless OVERWRITE is given — the prior silent overwrite
        let any export clobber an arbitrary writable path (round-4
        ADVICE), and the OVERWRITE form runs under the engine lock as a
        mutation."""
        name, path, query = m.group("name", "path", "query")
        try:
            fmt, overwrite = parse_copy_to_options(m.group("opts"))
        except ValueError as exc:
            raise AdtError(str(exc)) from exc
        fmt = self._copy_format(fmt)
        if query is not None:
            df = self.spark.sql(self._rewrite(query))
        else:
            try:
                df = self.spark.table(name)
            except Exception as exc:
                raise AdtError(f"COPY: unknown table {name!r}") from exc
        writer = df.write.mode("overwrite" if overwrite else "errorifexists")
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.format(fmt).save(path)

    def _copy_from_stmt(self, m: re.Match) -> None:
        """COPY t FROM 'path' (FORMAT …) — append files into an
        existing table. Files are read WITH the table's declared schema
        (no inference drift: a CSV integer column comes back as the
        table's type, not a guess) and appended via the same
        view-union lowering INSERT uses. Materialized views are
        refused (mirroring ALTER): appending to the snapshot view
        would silently diverge it from its defining query, and the
        next REFRESH would discard the appended rows.

        On an ATTACHed lakehouse table the batch becomes a REAL append
        commit (standard Delta via ``DeltaTableWriter.append``, Iceberg
        via
        ``IcebergTableWriter.append`` — all behind their schema
        gates), never a view union that ``REFRESH TABLE`` would
        silently revert (the round-10 verdict's found defect).
        VERSION-pinned attachments refuse loudly."""
        name, path, fmt = m.group("name", "path", "fmt")
        if name in self._views:
            raise AdtError(
                f"COPY: {name!r} is a view — COPY into its base table instead"
            )
        if name in self._matviews:
            raise AdtError(
                f"COPY: {name!r} is a materialized view — COPY into a base "
                "table and REFRESH, or DROP + re-CREATE the view"
            )
        fmt = self._copy_format(fmt)
        try:
            existing = self.spark.table(name)
        except Exception as exc:
            raise AdtError(f"COPY: unknown table {name!r}") from exc
        reader = self.spark.read.schema(existing.schema)
        if fmt == "csv":
            reader = reader.option("header", True)
        batch = reader.format(fmt).load(path)
        if name in self._attached:
            att = self._attached[name]
            if att["version"] is not None:
                raise AdtError(
                    f"COPY: {name!r} is pinned at VERSION {att['version']} "
                    "— re-ATTACH at latest before appending"
                )
            try:
                _writer(att["fmt"], att["path"]).append(batch)
            except (ValueError, NotImplementedError) as exc:
                raise AdtError(f"COPY {name}: {exc}") from exc
            # re-resolve the view on the post-append snapshot
            self._attach_table_stmt(name, att["fmt"], att["path"], None)
            return
        existing.unionByName(batch).createOrReplaceTempView(name)
        self._invalidate_stats(name)

    def _insert_stmt(self, m: re.Match) -> None:
        """INSERT INTO t VALUES … — a view-union swap on dialect
        tables; on an ATTACHed lakehouse table the batch becomes a
        REAL append commit through the format's writer (the same
        silent-loss class as the round-10 MERGE/COPY defect: a view
        union would revert on REFRESH and desync later COW
        mutations). Values cast to the table's live schema so literal
        typing (int vs bigint) never trips the writers' schema gate."""
        name = m.group("name")
        self._refuse_view_mutation("INSERT", name)
        td = self._tables.get(name)
        if td is None:
            raise AdtError(f"INSERT into unknown table {name!r}")
        _, rows = parse_insert_rows(m.string, td, self._types)
        batch = self.spark.sql(" UNION ALL ".join(f"SELECT {r}" for r in rows))
        if name in self._attached:
            att = self._attached[name]
            if att["version"] is not None:
                raise AdtError(
                    f"INSERT: {name!r} is pinned at VERSION "
                    f"{att['version']} — re-ATTACH at latest before "
                    "appending"
                )
            live = self.spark.table(name).schema
            typed = batch.select(
                *[
                    F.col(bc).cast(f.dataType).alias(f.name)
                    for bc, f in zip(batch.columns, live.fields)
                ]
            )
            try:
                _writer(att["fmt"], att["path"]).append(typed)
            except (ValueError, NotImplementedError) as exc:
                raise AdtError(f"INSERT {name}: {exc}") from exc
            self._attach_table_stmt(name, att["fmt"], att["path"], None)
            return
        self.table(name).unionByName(batch).createOrReplaceTempView(name)
        self._invalidate_stats(name)

    def _merge_stmt(self, m: re.Match) -> None:
        """MERGE INTO t USING s ON <cond>
        [WHEN MATCHED THEN UPDATE SET c = e, …]
        [WHEN NOT MATCHED THEN INSERT VALUES (e, …)]

        The lakehouse upsert statement (the dialect twin of the
        ``merge_upsert`` operator key), lowered to ONE full-outer join
        + per-column CASE projection that replaces the target view:
        matched rows take the SET assignments (or keep their value),
        target-only rows pass through untouched, source-only rows
        become the INSERT row (positional, target column order).
        Without an INSERT clause source-only rows are dropped (the
        join degrades to left-outer semantics); without an UPDATE
        clause matched rows keep their target values. At scale this
        is one shuffle of both sides on the join keys — exactly the
        plan Delta/Iceberg MERGE executes per touched partition.
        Standard-MERGE caveat: a target row matching multiple source
        rows is an error in the standard; this VIEW lowering keeps
        every join match instead — deduplicate the source on the
        merge key first.

        On an ATTACHed lakehouse table the statement routes to the
        format writer's ``merge`` — ONE transactional copy-on-write
        commit (remove affected files + add rewrites/inserts, atomic,
        time-travelable) instead of a view swap that ``REFRESH TABLE``
        would silently revert (the round-10 verdict's found defect);
        there multi-matching source rows ARE an error. VERSION-pinned
        attachments refuse loudly, exactly like DELETE/UPDATE."""
        target, source = m.group("target"), m.group("source")
        self._refuse_view_mutation("MERGE INTO", target)
        cond = m.group("cond").strip()
        mdel = m.group("mdel") is not None
        if target == source:
            raise AdtError("MERGE: target and source must differ")
        if m.group("sets") is None and m.group("ins") is None and not mdel:
            raise AdtError(
                "MERGE needs at least one WHEN clause (WHEN MATCHED THEN "
                "UPDATE SET … / WHEN MATCHED THEN DELETE and/or WHEN NOT "
                "MATCHED THEN INSERT VALUES …)"
            )
        try:
            cols = [f.name for f in self.spark.table(target).schema.fields]
        except Exception as exc:
            raise AdtError(f"MERGE into unknown table {target!r}") from exc
        try:
            self.spark.table(source)
        except Exception as exc:
            raise AdtError(f"MERGE: unknown source {source!r}") from exc
        assigned: dict[str, str] = {}
        if m.group("sets") is not None:
            assigned = dict(parse_update_sets(m.group("sets")))
            unknown = [c for c in assigned if c not in cols]
            if unknown:
                raise AdtError(f"MERGE {target}: unknown column(s) {unknown}")
        ins_exprs: list[str] | None = None
        if m.group("ins") is not None:
            from algebraicdb_spark.dialect import _split_top_level

            ins_exprs = [e.strip() for e in _split_top_level(m.group("ins"), ",")]
            if len(ins_exprs) != len(cols):
                raise AdtError(
                    f"MERGE {target}: INSERT VALUES has {len(ins_exprs)} "
                    f"expressions for {len(cols)} target columns"
                )
        if target in self._attached:
            t = self._mutable_attachment("MERGE INTO", target)
            try:
                t.merge(
                    self.spark,
                    self.spark.table(source),
                    self._rewrite(cond),
                    {c: self._rewrite(e) for c, e in assigned.items()}
                    if assigned
                    else None,
                    [self._rewrite(e) for e in ins_exprs]
                    if ins_exprs is not None
                    else None,
                    target_alias=target,
                    source_alias=source,
                    delete_matched=mdel,
                )
            except ValueError as exc:
                raise AdtError(f"MERGE {target}: {exc}") from exc
            self._reattach_after_mutation(target, t)
            return None
        if mdel:
            # WHEN MATCHED THEN DELETE on a dialect table: matched rows
            # drop, target-only rows pass through, source-only rows
            # insert (when the clause exists) — same full-outer
            # lowering, different row filter
            items = []
            for i, c in enumerate(cols):
                ins = ins_exprs[i] if ins_exprs is not None else "NULL"
                items.append(
                    f"CASE WHEN {target}.__t IS NOT NULL THEN {target}.{c} "
                    f"ELSE ({ins}) END AS {c}"
                )
            keep = (
                f"NOT ({target}.__t IS NOT NULL AND {source}.__s IS NOT NULL)"
                if ins_exprs is not None
                else f"{target}.__t IS NOT NULL AND {source}.__s IS NULL"
            )
            sql = (
                f"SELECT {', '.join(items)} FROM "
                f"(SELECT *, TRUE AS __t FROM {target}) {target} FULL OUTER "
                f"JOIN (SELECT *, TRUE AS __s FROM {source}) {source} "
                f"ON {cond} WHERE {keep}"
            )
            merged = self.spark.sql(self._rewrite(sql))
            merged.createOrReplaceTempView(target)
            self._invalidate_stats(target)
            return None
        items = []
        for i, c in enumerate(cols):
            upd = assigned.get(c, f"{target}.{c}")
            ins = ins_exprs[i] if ins_exprs is not None else "NULL"
            items.append(
                f"CASE WHEN {target}.__t IS NOT NULL AND {source}.__s IS NOT "
                f"NULL THEN ({upd}) WHEN {target}.__t IS NOT NULL THEN "
                f"{target}.{c} ELSE ({ins}) END AS {c}"
            )
        where = "" if ins_exprs is not None else f" WHERE {target}.__t IS NOT NULL"
        sql = (
            f"SELECT {', '.join(items)} FROM "
            f"(SELECT *, TRUE AS __t FROM {target}) {target} FULL OUTER JOIN "
            f"(SELECT *, TRUE AS __s FROM {source}) {source} ON {cond}{where}"
        )
        merged = self.spark.sql(self._rewrite(sql))
        merged.createOrReplaceTempView(target)
        self._invalidate_stats(target)

    def _upsert_stmt(self, m: re.Match) -> None:
        """UPSERT INTO t BY KEY (k1, k2) [TXN ('app', v)] SELECT … —
        the SQL surface for ``IcebergTableWriter.upsert_by_key``: ONE
        snapshot lands an equality-delete file of the source's key
        values plus the source itself at the same sequence number, so
        old rows with those keys die and the batch survives, with NO
        probe scan (O(batch) regardless of table size — the CDC
        ingest shape, previously Python-only). The optional TXN
        clause carries the exactly-once replay mark: a redelivered
        statement with the same (app, version) no-ops. The same
        refusal matrix as the Python path applies — duplicate keys in
        the source, partitioned/format-v1 targets, schema drift all
        refuse loudly. Iceberg attachments only: delta expresses
        keyed upserts through MERGE INTO (which probes), and dialect
        temp views have no delete files to ride."""
        target = m.group("target")
        self._refuse_view_mutation("UPSERT INTO", target)
        keys = [k.strip() for k in m.group("keys").split(",") if k.strip()]
        if not keys:
            raise AdtError("UPSERT: BY KEY needs at least one column")
        if target not in self._attached:
            raise AdtError(
                f"UPSERT INTO: {target!r} is not an ATTACHed iceberg "
                "table — keyed upsert rides v2 equality-delete files; "
                "use MERGE INTO for dialect tables"
            )
        if self._attached[target]["fmt"] != "iceberg":
            raise AdtError(
                f"UPSERT INTO: {target!r} is "
                f"{self._attached[target]['fmt']} — equality-delete "
                "upserts are an iceberg v2 shape; use MERGE INTO "
                "(probe + rewrite) on this format"
            )
        src = m.group("src").strip()
        if re.fullmatch(r"\w+", src):
            try:
                source = self.spark.table(src)
            except Exception as exc:
                raise AdtError(
                    f"UPSERT: unknown source table {src!r}"
                ) from exc
        else:
            source = self.spark.sql(self._rewrite(src))
        t = self._mutable_attachment("UPSERT INTO", target)
        app = m.group("app")
        txnv = m.group("txnv")
        try:
            t.upsert_by_key(
                self.spark, source, keys,
                app_id=app,
                txn_version=int(txnv) if txnv is not None else None,
            )
        except (ValueError, NotImplementedError) as exc:
            raise AdtError(f"UPSERT {target}: {exc}") from exc
        self._reattach_after_mutation(target, t)
        return None

    def _mutable_attachment(self, verb: str, name: str):
        """The writable table object behind an ATTACHed name, for
        row-level mutation: standard Delta → ``DeltaTableWriter``,
        standard Iceberg → ``IcebergTableWriter``. A VERSION-pinned
        attachment refuses (mutating a historical snapshot is a
        contradiction: rebase on latest)."""
        att = self._attached[name]
        if att["fmt"] == "iceberg" and verb not in (
            "DELETE", "UPDATE", "MERGE INTO", "UPSERT INTO"
        ):
            raise AdtError(
                f"{verb}: {name!r} is iceberg interop — this writer "
                "supports DELETE/UPDATE/MERGE (copy-on-write) and "
                "COPY/INSERT appends; run other mutations with its "
                "owning system"
            )
        if att["version"] is not None:
            raise AdtError(
                f"{verb}: {name!r} is pinned at VERSION {att['version']} "
                "— re-ATTACH at latest before mutating"
            )
        return _writer(att["fmt"], att["path"])

    def _reattach_after_mutation(self, name: str, t) -> None:
        """Re-register the view on the post-mutation snapshot. A table
        whose every row was deleted has NO live files — legal state:
        register an empty frame under the pinned table schema (or,
        when the log records none, under the shape the view had
        before the mutation — the best remaining authority)."""
        att = self._attached[name]
        schema = t.table_schema()
        try:
            non_empty = bool(t.live_paths())
        except (NotImplementedError, ValueError):
            # live_paths refuses when the live set carries
            # merge-on-read state — a Delta deletion vector
            # (NotImplementedError) or an iceberg position-delete file
            # (ValueError): a raw path list would resurrect deleted
            # rows, which itself proves the table is non-empty;
            # snapshot() applies the deletes (and if the refusal was
            # anything else, snapshot() surfaces it loudly right here)
            non_empty = True
        if non_empty:
            df = t.snapshot(self.spark)
        elif schema is not None:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.table(name).limit(0)
        self.create_table(name, df)
        self._attached[name] = {**att, "version": None}
        self._invalidate_stats(name)

    def _delete_stmt(self, m: re.Match) -> None:
        """DELETE FROM t [WHERE pred] — on an ATTACHed lakehouse table this
        is COPY-ON-WRITE row deletion (only files containing matching
        rows are rewritten; the commit is remove+add, atomic,
        time-travelable); on a dialect table it lowers to a filtered
        view replacement (patterns allowed in the predicate).
        TRUNCATE [TABLE] t shares this handler: its match has no
        ``pred`` group, so it is DELETE without a predicate — the view
        swaps to an empty limit(0) of itself, schema intact."""
        name, pred = m.group("name"), m.groupdict().get("pred")
        self._refuse_view_mutation("DELETE", name)
        if name in self._attached:
            t = self._mutable_attachment("DELETE", name)
            # the predicate passes the SAME text lowering as every
            # other statement (macros, ADT patterns) — a WHERE clause
            # that works in SELECT must work in DELETE
            try:
                t.delete(
                    self.spark,
                    self._rewrite(pred) if pred is not None else "TRUE",
                )
            except (ValueError, NotImplementedError) as exc:
                raise AdtError(f"DELETE {name}: {exc}") from exc
            self._reattach_after_mutation(name, t)
            return
        if name not in self._tables:
            raise AdtError(f"DELETE from unknown table {name!r}")
        if pred is None:
            kept = self.table(name).limit(0)
        else:
            kept = self.spark.sql(
                self._rewrite(f"SELECT * FROM {name} WHERE NOT ({pred})")
            )
        kept.createOrReplaceTempView(name)
        self._invalidate_stats(name)

    def _update_stmt(self, m: re.Match) -> None:
        """UPDATE t SET c = e, … [WHERE pred] — on an ATTACHed lakehouse
        table this is COPY-ON-WRITE row update (matched files rewritten
        with CASE per assigned column, atomic remove+add commit); on a
        dialect table it lowers to a projected view replacement."""
        name, sets, pred = m.group("name", "sets", "pred")
        self._refuse_view_mutation("UPDATE", name)
        if name in self._attached:
            t = self._mutable_attachment("UPDATE", name)
            try:
                t.update(
                    self.spark,
                    {
                        c: self._rewrite(e)
                        for c, e in parse_update_sets(sets)
                    },
                    self._rewrite(pred) if pred is not None else None,
                )
            except (ValueError, NotImplementedError) as exc:
                raise AdtError(f"UPDATE {name}: {exc}") from exc
            self._reattach_after_mutation(name, t)
            return
        td = self._tables.get(name)
        if td is None:
            raise AdtError(f"UPDATE on unknown table {name!r}")
        assignments = parse_update_sets(sets)
        unknown = [c for c, _ in assignments if c not in td.columns]
        if unknown:
            raise AdtError(f"UPDATE {name}: unknown column(s) {unknown}")
        cond = pred if pred is not None else "TRUE"
        assigned = dict(assignments)
        select_items = []
        for col in td.columns:
            if col in assigned:
                select_items.append(
                    f"CASE WHEN {cond} THEN ({assigned[col]}) ELSE {col} END AS {col}"
                )
            else:
                select_items.append(col)
        updated = self.spark.sql(
            self._rewrite(f"SELECT {', '.join(select_items)} FROM {name}")
        )
        updated.createOrReplaceTempView(name)
        self._invalidate_stats(name)

    def _invalidate_stats(self, name: str) -> None:
        """ANALYZE stats are a snapshot of one table state; any mutation
        or drop/recreate makes them lies. Evict so SHOW STATS errors
        with 'not analyzed' instead of silently serving the old table's
        numbers (advisor finding, round 5)."""
        self._stats.pop(name, None)

    def _refuse_view_mutation(self, verb: str, name: str) -> None:
        """Logical views are not mutation targets: the view-swap
        lowering every mutation uses would silently REPLACE the view
        registration with a materialized union/projection, destroying
        the re-resolving semantics. Mutate the base table instead."""
        if name in self._views:
            raise AdtError(
                f"{verb}: {name!r} is a view — mutate its base table instead"
            )

    def _create_view(self, name: str, query: str, replace: bool) -> None:
        """CREATE [OR REPLACE] VIEW — a LOGICAL view: the pattern- and
        macro-lowered query is stored as Spark temporary-view DDL, so
        every reference re-resolves against the CURRENT base tables
        (INSERT/UPDATE/DELETE view swaps show through — verified
        semantics; a DataFrame-registered view would freeze at
        creation). The snapshot twin is CREATE MATERIALIZED VIEW."""
        if name in self._views and not replace:
            raise AdtError(f"view {name} already exists (use CREATE OR REPLACE)")
        if name in self._matviews:
            raise AdtError(f"{name} is a materialized view (DROP it first)")
        if name in self._tables and name not in self._views:
            raise AdtError(f"name {name} already names a table")
        lowered = self._rewrite(query)
        self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {lowered}")
        self._views[name] = query.strip()
        # catalog entry (plain types) so DESCRIBE / SHOW TABLES see it
        self._tables[name] = TableDef(
            name,
            {
                f.name: f.dataType.simpleString()
                for f in self.spark.table(name).schema.fields
            },
        )
        return None

    def _drop_view_stmt(self, m: re.Match) -> None:
        name = m.group("name")
        if name not in self._views:
            if "IF EXISTS" in m.string.upper():
                return None
            raise AdtError(f"no such view: {name}")
        self.spark.catalog.dropTempView(name)
        del self._views[name]
        self._tables.pop(name, None)
        return None

    def _create_function_stmt(self, m: re.Match) -> None:
        """CREATE [OR REPLACE] FUNCTION f(a, b) AS <expr> — a scalar
        SQL macro, inlined textually at every call site before pattern
        lowering (so macro bodies may use ADT patterns and other
        macros). No runtime dispatch: Catalyst optimizes the expanded
        expression like hand-written SQL."""
        name, fn_params, body, replace = parse_create_function(m.string)
        if name in self._functions and not replace:
            raise AdtError(
                f"function {name} already exists (use CREATE OR REPLACE)"
            )
        if name in self._tables or name in self._matviews:
            raise AdtError(f"name {name} already names a table/matview")
        probe = dict(self._functions)
        probe[name] = (fn_params, body)
        # recursion check at DECLARE time: expanding a call must
        # terminate (expand_macros raises past its depth cap)
        expand_macros(f"{name}({', '.join('1' for _ in fn_params)})", probe)
        self._functions[name] = (fn_params, body)
        return None

    def _drop_function_stmt(self, m: re.Match) -> None:
        name = m.group("name").lower()
        if name not in self._functions:
            raise AdtError(f"no such function: {name}")
        del self._functions[name]

    def _show_functions_stmt(self, m: re.Match) -> DataFrame:
        def fmt(ps):
            return ", ".join(
                pn if d is None else f"{pn} := {d}"
                for pn, d in (p if isinstance(p, tuple) else (p, None) for p in ps)
            )

        rows = [
            (n, fmt(ps), body) for n, (ps, body) in sorted(self._functions.items())
        ]
        return self.spark.createDataFrame(
            rows or [], "function string, parameters string, body string"
        )

    def _version_at_timestamp(self, att: dict, ts: str) -> int:
        """Resolve `FOR TIMESTAMP AS OF '<ts>'` to a version/snapshot
        id: the LATEST commit at or before the instant, per format —
        delta uses the commitInfo timestamp
        (file mtime when a foreign commit omits it), iceberg the
        snapshot's timestamp-ms. Naive literals are read as UTC (commit
        clocks are epoch-based). Below the surviving log (cleaned
        prefix / expired snapshots) or before the first commit, refuse
        — resolving to 'nearest available' would silently answer a
        different question."""
        from datetime import datetime, timezone

        try:
            dt = datetime.fromisoformat(ts)
        except ValueError as exc:
            raise AdtError(
                f"TIMESTAMP AS OF: unparseable timestamp {ts!r} "
                "(use ISO-8601, e.g. '2026-08-15 12:00:00')"
            ) from exc
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        ts_ms = int(dt.timestamp() * 1000)
        fmt = att["fmt"]
        rdr = _reader(fmt, att["path"])
        cands: list[tuple[int, int]] = []  # (commit ts ms, version)
        if fmt == "delta":
            for v, actions in rdr._json_commit_actions(
                (rdr._json_versions() or [0])[0], None
            ):
                info = next(
                    (a["commitInfo"] for a in actions if "commitInfo" in a),
                    {},
                )
                when = info.get("timestamp") or int(
                    os.path.getmtime(
                        os.path.join(rdr.log_dir, f"{v:020d}.json")
                    ) * 1000
                )
                cands.append((int(when), v))
        elif fmt == "iceberg":
            # snapshot ids are NOT ordered for foreign tables (real
            # catalogs assign them randomly), so a timestamp-ms tie
            # cannot break on max(snapshot-id); the metadata's
            # snapshot-log records current-pointer history IN ORDER
            # and is the spec's authoritative tie-break. Entries whose
            # snapshot expired out of the metadata are skipped; tables
            # with no snapshot-log at all (minimal foreign metadata)
            # fall back to the snapshots list's own order.
            known = {s["snapshot-id"] for s in rdr.snapshots()}
            log = [
                e for e in (rdr.meta.get("snapshot-log") or [])
                if e.get("snapshot-id") in known
            ] or [
                {"timestamp-ms": s.get("timestamp-ms"),
                 "snapshot-id": s["snapshot-id"]}
                for s in rdr.snapshots()
            ]
            ordered = [
                (int(e.get("timestamp-ms") or 0), i, e["snapshot-id"])
                for i, e in enumerate(log)
            ]
            hits = [(w, i, v) for w, i, v in ordered if w <= ts_ms]
            if not hits:
                raise AdtError(
                    f"TIMESTAMP AS OF {ts!r}: no surviving iceberg "
                    "snapshot at or before that instant (before the "
                    "first commit, or expired by retention)"
                )
            return max(hits)[2]
        at_or_before = [(w, v) for w, v in cands if w <= ts_ms]
        if not at_or_before:
            raise AdtError(
                f"TIMESTAMP AS OF {ts!r}: no surviving {fmt} commit at "
                "or before that instant (before the first commit, or "
                "cleaned/expired by retention)"
            )
        return max(at_or_before)[1]

    def _rewrite_time_travel(self, stmt: str) -> str:
        """Lower `t VERSION AS OF v` / `t FOR TIMESTAMP AS OF '…'` on
        ATTACHed tables to a pinned snapshot registered as a temp view,
        substituted as `<view> AS t` so qualified references keep
        resolving. The attachment itself stays at latest — time travel
        per READ, no re-ATTACH dance. A version below a cleaned
        checkpoint / expired snapshot refuses via the reader's own
        loud error. The match runs over the string-masked statement so
        AS-OF text inside a quoted literal is data, not syntax."""
        from algebraicdb_spark.dialect import (
            _mask_strings,
            _unmask_strings,
        )

        masked, saved = _mask_strings(stmt)
        if not _TIME_TRAVEL_RE.search(masked):
            return stmt

        def repl(m: re.Match) -> str:
            name = m.group("name")
            if name not in self._attached:
                raise AdtError(
                    f"time travel: {name!r} is not an ATTACHed lakehouse "
                    "table — VERSION/TIMESTAMP AS OF reads a commit log; "
                    "ATTACH TABLE first"
                )
            att = self._attached[name]
            if m.group("ver") is not None:
                v = int(m.group("ver"))
            else:
                lit = saved[int(m.group("tsref"))]
                ts = lit[1:-1].replace("''", "'")
                v = self._version_at_timestamp(att, ts)
            view = f"__asof_{name}_v{v}"
            from pyspark.errors import AnalysisException

            try:
                df = _reader(att["fmt"], att["path"]).snapshot(self.spark, v)
            except (ValueError, AnalysisException) as exc:
                # cleaned checkpoint / expired snapshot / vacuumed data:
                # the reader (or the scan resolution) refuses — surface
                # it as the statement's error, naming the travel
                raise AdtError(f"time travel on {name!r}: {exc}") from exc
            df.createOrReplaceTempView(view)
            return f"{view} AS {name}"

        return _unmask_strings(
            _TIME_TRAVEL_RE.sub(repl, masked), saved
        )

    def _rewrite_changes(self, stmt: str) -> str:
        """Lower ``CHANGES(t, <since> [, <to>])`` in FROM position on
        an ATTACHed table to the format's row-level change feed
        (``changes_cdf`` — delta by version, iceberg by
        snapshot id), registered as a temp view and substituted in
        place, so the feed composes with the whole read grammar
        (joins, aggregation, CTAS, EXPLAIN). Bounds are integers or
        quoted timestamps (resolved like the time-travel sugar, via
        ``_version_at_timestamp``); ``to`` defaults to the head. An
        empty window yields an EMPTY relation with the feed's schema —
        a consumer polling for new commits must see zero rows, not an
        error. Expired/cleaned windows refuse loudly with the reader's
        own message (row-level changes need the removed bytes)."""
        from algebraicdb_spark.dialect import (
            _mask_strings,
            _unmask_strings,
        )

        masked, saved = _mask_strings(stmt)
        if not _CHANGES_RE.search(masked):
            return stmt

        def bound(num: str | None, ref: str | None, att: dict):
            if num is not None:
                return int(num)
            if ref is None:
                return None
            lit = saved[int(ref)]
            ts = lit[1:-1].replace("''", "'")
            return self._version_at_timestamp(att, ts)

        def repl(m: re.Match) -> str:
            name = m.group("name")
            if name not in self._attached:
                raise AdtError(
                    f"CHANGES: {name!r} is not an ATTACHed lakehouse "
                    "table — the change feed reads a commit log; "
                    "ATTACH TABLE first"
                )
            att = self._attached[name]
            since = bound(m.group("since"), m.group("sinceref"), att)
            to = bound(m.group("to"), m.group("toref"), att)
            rdr = _reader(att["fmt"], att["path"])
            try:
                cdf = rdr.changes_cdf(self.spark, since, to)
            except (ValueError, NotImplementedError) as exc:
                # expired window / reclaimed bytes / unsupported
                # commit shape: the reader's refusal IS the statement
                # error — silently returning a truncated feed would
                # corrupt every downstream consumer
                raise AdtError(f"CHANGES({name}): {exc}") from exc
            if cdf is None:
                # empty window: the feed's SCHEMA with zero rows
                from pyspark.sql import functions as F

                cdf = (
                    rdr.snapshot(self.spark, att["version"])
                    .limit(0)
                    .withColumn("_change_type", F.lit(None).cast("string"))
                    .withColumn("_commit_version", F.lit(None).cast("long"))
                )
            view = f"__changes_{name}_{since}_{'head' if to is None else to}"
            cdf.createOrReplaceTempView(view)
            return view

        return _unmask_strings(_CHANGES_RE.sub(repl, masked), saved)

    def _rewrite(self, stmt: str) -> str:
        # reads run without the engine lock, so a concurrent CREATE can
        # rebind the catalog dicts: iterate snapshots, never the live
        # dicts ("dictionary changed size during iteration")
        stmt = self._rewrite_changes(stmt)
        stmt = self._rewrite_time_travel(stmt)
        if self._functions:
            stmt = expand_macros(stmt, dict(self._functions))
        stmt = rewrite_distinct_on(stmt)
        stmt = rewrite_qualify(stmt)
        adt_cols: dict[str, AdtType] = {}
        known: set[str] = set()
        for td in tuple(self._tables.values()):
            adt_cols.update(td.adt_columns)
            known.update(td.columns)
        if not adt_cols:
            return stmt
        stmt = rewrite_match_exprs(stmt, adt_cols)
        return rewrite_patterns(stmt, adt_cols, known_columns=known)

    # -- model persistence ---------------------------------------------

    def save_model(
        self, path: str, df: DataFrame, kind: str, params: dict | None = None
    ) -> None:
        """Persist trained/derived operator state (IVF centroids, PQ
        codebooks, LSH planes, dedup fingerprints) as parquet + a JSON
        manifest — the DML twin of ``save_catalog``'s DDL persistence.
        At 100 TB the ANN index build dwarfs the query; this is how a
        session skips the rebuild."""
        from algebraicdb_spark.models import save_model

        save_model(df, path, kind, params)

    def load_model(self, path: str):
        """Reload a saved model as a ``ModelHandle`` (plain parquet
        scan + metadata); feed ``.df`` to the matching search function
        (``ivf_search``, ``pq_search``, ``incremental_dedup_classify``)
        for a plan with zero training stages."""
        from algebraicdb_spark.models import load_model

        return load_model(self.spark, path)

    # -- catalog persistence -------------------------------------------

    def save_catalog(self, path: str) -> None:
        """Write the session catalog METADATA (declared sum types,
        dialect table schemas, materialized-view definitions) as JSON.

        This is DDL persistence — the reference's `CREATE TYPE`/`CREATE
        TABLE` declarations survive a restart; row data does NOT (data
        belongs in parquet via the sinks; WAL-style row persistence is
        explicitly out of scope). Types serialize structurally with
        nested ADTs by name reference, so declaration order restores
        dependencies."""

        def ser(t):
            return {"adt": t.name} if isinstance(t, AdtType) else t

        data = {
            "types": {
                n: [
                    [v.name, [[fn, ser(ft)] for fn, ft in v.fields]]
                    for v in t.variants
                ]
                for n, t in self._types.items()
            },
            "tables": {
                n: [[c, ser(t)] for c, t in td.columns.items()]
                for n, td in self._tables.items()
                if n not in self._views  # views re-create from their SQL
            },
            "matviews": dict(self._matviews),
            "attached": dict(self._attached),
            "views": dict(self._views),
            "functions": {
                n: [ps, body] for n, (ps, body) in self._functions.items()
            },
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=2)

    def load_catalog(self, path: str) -> None:
        """Restore a catalog saved by :meth:`save_catalog` into this
        session: re-declare types, re-create dialect tables (EMPTY —
        only schemas persist) unless a same-named view already exists,
        and re-run materialized-view definitions.

        When a same-named view ALREADY exists (an attached fixture) and
        its live column names differ from the saved TableDef — e.g. the
        saved catalog recorded an ALTER on a fixture view, which is
        session-scoped — the live schema WINS and the saved TableDef is
        discarded for that table. Otherwise DESCRIBE would report the
        altered shape while the data still has the original columns
        (round-4 ADVICE: catalog/data drift after restore)."""

        def deser(t):
            return self._types[t["adt"]] if isinstance(t, dict) else t

        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        for name, variants in data["types"].items():
            self._types[name] = AdtType(
                name,
                [
                    Variant(vn, [(fn, deser(ft)) for fn, ft in fields])
                    for vn, fields in variants
                ],
            )
        # re-ATTACH lakehouse tables FIRST (loudly if the path is
        # gone), so the declared-tables loop below sees them as live
        # views instead of resurrecting empty shells; the VERSION pin
        # round-trips
        for name, att in data.get("attached", {}).items():
            try:
                self._attach_table_stmt(
                    name, att["fmt"], att["path"],
                    att["version"] if att.get("version") is not None else None,
                )
            except Exception as exc:
                raise AdtError(
                    f"catalog restore: re-ATTACH of {name!r} "
                    f"({att['fmt']} at {att['path']}) failed: {exc}"
                ) from exc
        existing = {t.name for t in self.spark.catalog.listTables()}
        for name, cols in data["tables"].items():
            td = TableDef(name, {c: deser(t) for c, t in cols})
            if name not in existing:
                empty = self.spark.createDataFrame([], td.schema_ddl())
                empty.createOrReplaceTempView(name)
            else:
                live_cols = [f.name for f in self.spark.table(name).schema.fields]
                if live_cols != list(td.columns):
                    # saved metadata drifted from live data (session-
                    # scoped ALTER on a fixture view): trust the data,
                    # keep ADT mappings for columns that still exist
                    td = TableDef(
                        name,
                        {
                            c: td.columns.get(c)
                            or self.spark.table(name).schema[c].dataType.simpleString()
                            for c in live_cols
                        },
                    )
            self._tables[name] = td
        for name, query in data["matviews"].items():
            if name not in self._matviews:
                self._create_matview(name, query)
        for name, (ps, body) in data.get("functions", {}).items():
            norm = [tuple(p) if isinstance(p, list) else (p, None) for p in ps]
            self._functions.setdefault(name, (norm, body))
        for name, query in data.get("views", {}).items():
            if name not in self._views:
                self._create_view(name, query, replace=True)

    # -- types ---------------------------------------------------------

    def create_type(self, name: str, variants: list[Variant]) -> AdtType:
        adt = AdtType(name, variants)
        self._types[name] = adt
        return adt

    def type(self, name: str) -> AdtType:
        if name not in self._types:
            raise AdtError(f"unknown type {name!r} (declared: {sorted(self._types)})")
        return self._types[name]

    @property
    def types(self) -> dict[str, AdtType]:
        return dict(self._types)


def _copy_to_overwrites(m: re.Match) -> bool:
    """COPY … TO is a read-side export unless it carries OVERWRITE,
    which deletes the existing target directory. A malformed option
    list counts as a read: the handler refuses it."""
    try:
        return parse_copy_to_options(m.group("opts"))[1]
    except ValueError:
        return False


# Every engine statement, in match order: (pattern, handler, mutates).
# ``Engine.sql`` runs the handler of the first matching pattern; a
# statement that matches none is a Spark read. ``mutates`` — a bool, or
# a predicate over the match — marks the statements that write the
# catalog (temp-view swaps, the engine's dicts, lakehouse commits);
# they run under the engine lock, reads never take it.
_STATEMENTS: tuple[tuple[re.Pattern, Callable, bool | Callable], ...] = (
    (_CREATE_TYPE_RE, Engine._create_type_stmt, True),
    (_CTAS_LAKEHOUSE_RE, Engine._ctas_lakehouse_stmt, True),
    (_CTAS_RE, Engine._ctas_stmt, True),
    (_CREATE_TABLE_RE, Engine._create_table_stmt, True),
    (_INSERT_RE, Engine._insert_stmt, True),
    (_DELETE_RE, Engine._delete_stmt, True),
    (_UPDATE_RE, Engine._update_stmt, True),
    (_MERGE_RE, Engine._merge_stmt, True),
    (_UPSERT_RE, Engine._upsert_stmt, True),
    (_DROP_TABLE_RE, Engine._drop_table_stmt, True),
    (_ALTER_TABLE_RE, Engine._alter_table_stmt, True),
    (_COPY_TO_RE, Engine._copy_to_stmt, _copy_to_overwrites),
    (_COPY_FROM_RE, Engine._copy_from_stmt, True),
    (_CREATE_MATVIEW_RE,
     lambda e, m: e._create_matview(m.group("name"), m.group("query")), True),
    (_REFRESH_MATVIEW_RE,
     lambda e, m: e._refresh_matview(m.group("name")), True),
    (_DROP_MATVIEW_RE, lambda e, m: e._drop_matview(m.group("name")), True),
    (_EXPLAIN_RE, Engine._explain_stmt, False),
    (_SHOW_CREATE_RE, Engine._show_create_stmt, False),
    (_SHOW_TABLES_RE, Engine._show_tables_stmt, False),
    (_ATTACH_TABLE_RE,
     lambda e, m: e._attach_table_stmt(*m.group("name", "fmt", "path", "version")),
     True),
    (_OPTIMIZE_TABLE_RE, Engine._optimize_stmt, True),
    (_VACUUM_TABLE_RE, Engine._vacuum_stmt, True),
    (_REFRESH_TABLE_RE, Engine._refresh_table_stmt, True),
    (_SHOW_STATS_RE, Engine._show_stats_stmt, False),
    (_ANALYZE_RE, Engine._analyze_stmt, True),
    (_TRUNCATE_RE, Engine._delete_stmt, True),
    (_DESCRIBE_HISTORY_RE, Engine._describe_history_stmt, False),
    (_RESTORE_TABLE_RE, Engine._restore_stmt, True),
    (_SHOW_TBLPROPS_RE, Engine._show_tblprops_stmt, False),
    (_DESCRIBE_RE, Engine._describe_stmt, False),
    (_CREATE_VIEW_RE,
     lambda e, m: e._create_view(
         m.group("name"), m.group("query"), bool(m.group("replace"))
     ),
     True),
    (_DROP_VIEW_RE, Engine._drop_view_stmt, True),
    (_CREATE_FUNCTION_RE, Engine._create_function_stmt, True),
    (_DROP_FUNCTION_RE, Engine._drop_function_stmt, True),
    (_SHOW_FUNCTIONS_RE, Engine._show_functions_stmt, False),
    (_FIXPOINT_RE, Engine._fixpoint_stmt, False),
)


def _route(stmt: str) -> tuple[Callable, re.Match, bool] | None:
    """The first ``_STATEMENTS`` entry matching ``stmt`` as (handler,
    match, mutates), or None for a plain Spark read."""
    for pattern, handler, writes in _STATEMENTS:
        m = pattern.match(stmt)
        if m is not None:
            return handler, m, writes(m) if callable(writes) else writes
    return None


def mutates(stmt: str) -> bool:
    """Whether ``Engine.sql(stmt)`` writes the catalog and therefore
    runs under the engine lock — the one statement classifier."""
    route = _route(stmt)
    return route is not None and route[2]
