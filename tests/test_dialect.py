"""The reference's statement dialect: CREATE TYPE / CREATE TABLE /
INSERT / DROP TABLE / SELECT with pattern matching, end to end."""

from __future__ import annotations

import pytest

from algebraicdb_spark.dialect import parse_create_type, rewrite_patterns
from algebraicdb_spark.engine import Engine
from algebraicdb_spark.functions.adt import AdtError


@pytest.fixture(scope="module")
def eng(spark):
    eng = Engine(spark)
    eng.sql(
        "CREATE TYPE Shape = Circle(r: Double) | Rect(w: Double, h: Double) | Point"
    )
    eng.sql("CREATE TABLE shapes (id: Integer, s: Shape)")
    eng.sql(
        "INSERT INTO shapes VALUES (1, Circle(2.0)), (2, Point), (3, Rect(3.0, 4.0))"
    )
    return eng


def test_positional_create_type():
    t = parse_create_type("CREATE TYPE Pair = MkPair(Double, Double) | Unit")
    assert t.tags == ("MkPair", "Unit")
    assert t._by_name["MkPair"].fields == (("_1", "double"), ("_2", "double"))


def test_reference_primitive_names():
    t = parse_create_type("CREATE TYPE V = A(x: Integer, y: Bool, z: Text)")
    assert t._by_name["A"].fields == (
        ("x", "bigint"),
        ("y", "boolean"),
        ("z", "string"),
    )


def test_create_insert_select_roundtrip(eng):
    assert eng.table("shapes").count() == 3
    rows = eng.sql("SELECT id, r FROM shapes WHERE s: Circle(r)").collect()
    assert [(r.id, r.r) for r in rows] == [(1, 2.0)]


def test_insert_appends(eng):
    eng.sql("INSERT INTO shapes VALUES (4, Circle(0.5))")
    assert eng.table("shapes").count() == 4
    small = eng.sql("SELECT id FROM shapes WHERE s: Circle(r) AND r < 1.0").collect()
    assert [r.id for r in small] == [4]


def test_match_in_case_arms(eng):
    rows = eng.sql(
        """
        SELECT id,
               CASE WHEN s: Circle(cr) THEN 3.0 * cr * cr
                    WHEN s: Rect(w, h) THEN w * h
                    ELSE 0.0 END AS area
        FROM shapes WHERE id <= 3 ORDER BY id
        """
    ).collect()
    assert [(r.id, r.area) for r in rows] == [(1, 12.0), (2, 0.0), (3, 12.0)]


def test_binding_keeps_name_as_select_item(eng):
    df = eng.sql("SELECT id, r FROM shapes WHERE s: Circle(r)")
    assert df.columns == ["id", "r"]


def test_wildcard_binding(eng):
    eng.sql("CREATE TYPE Pair = MkPair(Double, Double) | Unit")
    eng.sql("CREATE TABLE pairs (k: Integer, p: Pair)")
    eng.sql("INSERT INTO pairs VALUES (1, MkPair(1.5, 2.5)), (2, Unit)")
    rows = eng.sql("SELECT k, b FROM pairs WHERE p: MkPair(_, b)").collect()
    assert [(r.k, r.b) for r in rows] == [(1, 2.5)]
    eng.sql("DROP TABLE pairs")


def test_payloadless_pattern(eng):
    rows = eng.sql("SELECT id FROM shapes WHERE s: Point").collect()
    assert [r.id for r in rows] == [2]


def test_aggregate_over_pattern(eng):
    rows = eng.sql(
        """
        SELECT COUNT(*) AS n, SUM(CASE WHEN s: Rect(w, h) THEN w * h END) AS rect_area
        FROM shapes
        """
    ).collect()
    assert rows[0].n == 4 and rows[0].rect_area == 12.0


def test_unknown_variant_is_plan_time_error(eng):
    with pytest.raises(AdtError, match="no variant"):
        eng.sql("SELECT id FROM shapes WHERE s: Triangle(x)")


def test_arity_mismatch_is_plan_time_error(eng):
    with pytest.raises(AdtError, match="binds 2"):
        eng.sql("SELECT id FROM shapes WHERE s: Circle(a, b)")


def test_binding_shadowing_column_rejected(eng):
    with pytest.raises(AdtError, match="shadows"):
        eng.sql("SELECT id FROM shapes WHERE s: Circle(id)")


def test_insert_arity_checked(eng):
    with pytest.raises(AdtError, match="takes 1 argument"):
        eng.sql("INSERT INTO shapes VALUES (9, Circle(1.0, 2.0))")
    with pytest.raises(AdtError, match="constructor"):
        eng.sql("INSERT INTO shapes VALUES (9, 42)")


def test_pattern_inside_string_untouched():
    out = rewrite_patterns("SELECT 'x: Circle(r)' AS lit FROM t", {}, set())
    assert out == "SELECT 'x: Circle(r)' AS lit FROM t"


def test_drop_table(eng, spark):
    eng.sql("CREATE TABLE scratch (a: Integer)")
    eng.sql("DROP TABLE scratch")
    assert not any(t.name == "scratch" for t in spark.catalog.listTables())


def test_cast_colon_not_a_pattern(eng):
    # `::` and qualified names never parse as patterns
    rows = eng.sql("SELECT id FROM shapes WHERE id = 1").collect()
    assert len(rows) == 1


def test_match_expression(eng):
    rows = eng.sql(
        """
        SELECT id,
               MATCH s { Circle(cr) => 3.0 * cr * cr,
                         Rect(w, h) => w * h,
                         Point => 0.0 } AS area
        FROM shapes WHERE id <= 3 ORDER BY id
        """
    ).collect()
    assert [(r.id, r.area) for r in rows] == [(1, 12.0), (2, 0.0), (3, 12.0)]


def test_match_expression_wildcard(eng):
    rows = eng.sql(
        "SELECT id, MATCH s { Circle(cr) => cr, _ => -1.0 } AS r "
        "FROM shapes WHERE id <= 3 ORDER BY id"
    ).collect()
    assert [(r.id, r.r) for r in rows] == [(1, 2.0), (2, -1.0), (3, -1.0)]


def test_match_non_exhaustive_rejected(eng):
    with pytest.raises(AdtError, match="non-exhaustive MATCH"):
        eng.sql("SELECT MATCH s { Circle(cr) => cr } AS r FROM shapes")


def test_match_unknown_variant_rejected(eng):
    with pytest.raises(AdtError, match="no variant"):
        eng.sql("SELECT MATCH s { Blob => 1.0, _ => 0.0 } AS r FROM shapes")


def test_match_duplicate_arm_rejected(eng):
    with pytest.raises(AdtError, match="duplicate"):
        eng.sql(
            "SELECT MATCH s { Point => 1.0, Point => 2.0, _ => 0.0 } AS r FROM shapes"
        )


def test_match_in_aggregate(eng):
    row = eng.sql(
        """
        SELECT SUM(MATCH s { Circle(cr) => 3.0 * cr * cr,
                             Rect(w, h) => w * h,
                             Point => 0.0 }) AS total_area
        FROM shapes
        """
    ).collect()[0]
    assert total_area_close(row.total_area)


def total_area_close(v):
    # shapes: Circle(2)→12, Point→0, Rect(3,4)→12, Circle(0.5)→0.75
    return abs(v - 24.75) < 1e-9


def test_delete_where_pattern(eng):
    eng.sql("CREATE TABLE del_t (id: Integer, s: Shape)")
    eng.sql("INSERT INTO del_t VALUES (1, Circle(9.0)), (2, Point), (3, Rect(1.0, 1.0))")
    eng.sql("DELETE FROM del_t WHERE s: Circle(dr) AND dr > 5.0")
    assert sorted(r.id for r in eng.table("del_t").collect()) == [2, 3]
    eng.sql("DELETE FROM del_t")  # unconditional truncate
    assert eng.table("del_t").count() == 0
    eng.sql("DROP TABLE del_t")


def test_update_set_where(eng):
    eng.sql("CREATE TABLE upd_t (id: Integer, v: Double)")
    eng.sql("INSERT INTO upd_t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    eng.sql("UPDATE upd_t SET v = v * 2 WHERE id >= 2")
    got = {r.id: r.v for r in eng.table("upd_t").collect()}
    assert got == {1: 10.0, 2: 40.0, 3: 60.0}
    eng.sql("UPDATE upd_t SET v = 0.0")  # unconditional
    assert {r.v for r in eng.table("upd_t").collect()} == {0.0}
    eng.sql("DROP TABLE upd_t")


def test_update_unknown_column_rejected(eng):
    eng.sql("CREATE TABLE upd_e (id: Integer)")
    with pytest.raises(AdtError, match="unknown column"):
        eng.sql("UPDATE upd_e SET nope = 1")
    eng.sql("DROP TABLE upd_e")


def test_delete_unknown_table_rejected(eng):
    with pytest.raises(AdtError, match="unknown table"):
        eng.sql("DELETE FROM ghosts WHERE 1 = 1")


def test_create_table_as_select(eng):
    eng.sql(
        "CREATE TABLE big_circles AS "
        "SELECT id, cr2 AS radius FROM shapes WHERE s: Circle(cr2) AND cr2 > 1.0"
    )
    rows = eng.table("big_circles").collect()
    assert [(r.id, r.radius) for r in rows] == [(1, 2.0)]
    eng.sql("DROP TABLE big_circles")


def test_explain_rewrites_patterns(eng):
    """EXPLAIN delegates to Spark's native EXPLAIN after pattern
    rewriting — the plan text shows the compiled tag/field accesses,
    never the raw `col: Variant` surface syntax."""
    df = eng.sql("EXPLAIN SELECT id, r FROM shapes WHERE s: Circle(r) AND r > 1.0")
    assert df.columns == ["plan"]
    plan = df.collect()[0][0]
    assert "tag" in plan  # compiled predicate, not surface pattern
    assert ": Circle" not in plan


def test_show_tables_and_describe_pass_through(eng):
    """Catalog introspection (SHOW TABLES / DESCRIBE) — the REPL user
    sees dialect-created tables alongside the fixture views, with
    ADT columns reported by their declared type name."""
    names = {r.table_name for r in eng.sql("SHOW TABLES").collect()}
    assert "shapes" in names
    cols = {r.column_name for r in eng.sql("DESCRIBE shapes").collect()}
    assert "id" in cols and "s" in cols


def test_nested_adt_lifecycle(eng):
    """Sum types compose: an ADT-typed variant field declares, inserts
    with nested constructors, and pattern-matches recursively."""
    eng.sql("CREATE TYPE Obj = Wrap(inner: Shape, label: Text) | Bare")
    eng.sql("CREATE TABLE objs (id: Integer, o: Obj)")
    eng.sql(
        "INSERT INTO objs VALUES "
        "(1, Wrap(Circle(2.0), 'a')), (2, Wrap(Point, 'b')), "
        "(3, Bare), (4, Wrap(Rect(1.0, 5.0), 'c'))"
    )
    # nested pattern with inner binding
    rows = eng.sql(
        "SELECT id, r, lbl FROM objs WHERE o: Wrap(Circle(r), lbl) AND r > 1.0"
    ).collect()
    assert [(r.id, r.r, r.lbl) for r in rows] == [(1, 2.0, "a")]
    # nested payload-less variant + wildcards
    assert [r.id for r in eng.sql(
        "SELECT id FROM objs WHERE o: Wrap(Point, _)").collect()] == [2]
    assert [(r.id, r.w) for r in eng.sql(
        "SELECT id, w FROM objs WHERE o: Wrap(Rect(w, _), _)").collect()] == [(4, 1.0)]
    # whole-struct binding: the inner ADT value binds opaquely and
    # its encoding is addressable (x.tag)
    rows = eng.sql(
        "SELECT id, x.tag AS t FROM objs WHERE o: Wrap(x, _) ORDER BY id"
    ).collect()
    assert [(r.id, r.t) for r in rows] == [(1, "Circle"), (2, "Point"), (4, "Rect")]
    eng.sql("DROP TABLE objs")


def test_nested_pattern_on_non_adt_field_rejected(eng):
    eng.sql("CREATE TYPE Holder = Keep(v: Double) | Drop2")
    eng.sql("CREATE TABLE holders (id: Integer, h: Holder)")
    eng.sql("INSERT INTO holders VALUES (1, Keep(1.0))")
    from algebraicdb_spark.functions.adt import AdtError

    with pytest.raises(AdtError, match="not a matching ADT variant"):
        eng.sql("SELECT id FROM holders WHERE h: Keep(Circle(r))")
    eng.sql("DROP TABLE holders")


def test_nested_arity_error_at_plan_time(eng):
    eng.sql("CREATE TYPE Obj2 = Wrap2(inner: Shape) | None2")
    eng.sql("CREATE TABLE objs2 (id: Integer, o: Obj2)")
    eng.sql("INSERT INTO objs2 VALUES (1, Wrap2(Circle(2.0)))")
    from algebraicdb_spark.functions.adt import AdtError

    with pytest.raises(AdtError, match="field"):
        eng.sql("SELECT id FROM objs2 WHERE o: Wrap2(Circle(r, extra))")
    eng.sql("DROP TABLE objs2")


class TestExplain:
    def test_explain_select_returns_plan(self, eng):
        df = eng.sql("EXPLAIN SELECT 1 AS one")
        out = "\n".join(r[0] for r in df.collect())
        assert "Physical Plan" in out

    def test_explain_pattern_select_compiles_to_tag_predicate(self, eng):
        df = eng.sql(
            "EXPLAIN EXTENDED SELECT id, r FROM shapes WHERE s: Circle(r)"
        )
        out = "\n".join(r[0] for r in df.collect())
        # the pattern lowered to a tag test + struct access, no UDF
        assert "Circle" in out
        assert "BatchEvalPython" not in out

    def test_explain_analyze_returns_runtime_metrics(self, eng, tables):
        """EXPLAIN ANALYZE executes and reports per-operator SQLMetrics
        (actual row counts), including a <result> summary row."""
        rows = eng.sql(
            "EXPLAIN ANALYZE SELECT o_orderstatus, COUNT(*) AS n "
            "FROM orders GROUP BY o_orderstatus"
        ).collect()
        assert {"depth", "operator", "metric", "value"} <= set(rows[0].asDict())
        result = [r for r in rows if r.operator == "<result>"]
        assert len(result) == 1 and result[0].value >= 1
        # the parquet scan's ACTUAL output rows are visible
        scans = [
            r for r in rows
            if "Scan" in r.operator and r.metric == "numOutputRows"
        ]
        assert scans and all(r.value > 0 for r in scans)

    def test_explain_is_read_only(self, eng):
        n_before = eng.sql("SELECT COUNT(*) AS n FROM shapes").collect()[0].n
        eng.sql("EXPLAIN SELECT * FROM shapes")
        n_after = eng.sql("SELECT COUNT(*) AS n FROM shapes").collect()[0].n
        assert n_before == n_after

    def test_explain_analyze_rejects_commands(self, eng):
        """EXPLAIN ANALYZE executes its inner statement, and spark.sql
        runs commands EAGERLY — so command plans must be rejected
        BEFORE execution or `EXPLAIN ANALYZE CREATE TABLE …` would
        create a real table past the server's mutation gate."""
        for cmd in (
            "CREATE TABLE xp_sneak AS SELECT 1 AS a",
            "DROP VIEW shapes",
            "SET spark.sql.shuffle.partitions=1",
        ):
            with pytest.raises(AdtError, match="only\\s+accepts queries"):
                eng.sql(f"EXPLAIN ANALYZE {cmd}")
        # nothing executed: no sneak table, shapes still readable
        tabs = {t.name for t in eng.spark.catalog.listTables()}
        assert "xp_sneak" not in tabs
        assert eng.sql("SELECT COUNT(*) AS n FROM shapes").collect()[0].n >= 1

    def test_explain_scale_rejects_commands(self, eng):
        with pytest.raises(AdtError, match="only\\s+accepts queries"):
            eng.sql("EXPLAIN SCALE CREATE TABLE xp_sneak2 AS SELECT 1 AS a")
        assert "xp_sneak2" not in {
            t.name for t in eng.spark.catalog.listTables()
        }


class TestIntrospection:
    def test_show_tables_lists_created(self, eng):
        names = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
        assert "shapes" in names

    def test_describe_reports_adt_type_name(self, eng):
        rows = {r.column_name: r.type for r in eng.sql("DESCRIBE shapes").collect()}
        assert rows["id"] == "bigint"
        assert rows["s"] == "Shape"  # the declared sum type, not its encoding

    def test_describe_unknown_table_is_dialect_error(self, eng):
        with pytest.raises(AdtError):
            eng.sql("DESCRIBE nope_no_such_table")

    def test_explain_scale_flags_cartesian(self, eng):
        rows = eng.sql(
            "EXPLAIN SCALE SELECT * FROM shapes a, shapes b"
        ).collect()
        codes = {r.code for r in rows}
        assert codes & {"CARTESIAN", "BNLJ"}

    def test_explain_scale_clean_plan(self, eng):
        rows = eng.sql(
            "EXPLAIN SCALE SELECT id FROM shapes WHERE id = 1"
        ).collect()
        assert [r.code for r in rows] == ["CLEAN"]


class TestAlterTable:
    def test_add_column_with_default_and_null(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE alt_t (id: Integer, v: Double)")
        eng2.sql("INSERT INTO alt_t VALUES (1, 10.0), (2, 20.0)")
        eng2.sql("ALTER TABLE alt_t ADD COLUMN tag: Text DEFAULT 'old'")
        eng2.sql("ALTER TABLE alt_t ADD COLUMN score: Double")
        rows = eng2.sql("SELECT * FROM alt_t ORDER BY id").collect()
        assert [tuple(r) for r in rows] == [(1, 10.0, "old", None), (2, 20.0, "old", None)]
        # new inserts must supply every column, including the added ones
        eng2.sql("INSERT INTO alt_t VALUES (3, 30.0, 'new', 0.5)")
        assert eng2.table("alt_t").count() == 3
        desc = {r.column_name: r.type for r in eng2.sql("DESCRIBE alt_t").collect()}
        assert desc["tag"] == "string" and desc["score"] == "double"
        eng2.sql("DROP TABLE alt_t")

    def test_add_adt_column_with_constructor_default(self, eng):
        eng.sql("CREATE TABLE alt_adt AS SELECT id FROM shapes")
        eng.sql("ALTER TABLE alt_adt ADD COLUMN s2: Shape DEFAULT Circle(9.0)")
        rows = eng.sql("SELECT id, r FROM alt_adt WHERE s2: Circle(r)").collect()
        assert all(r.r == 9.0 for r in rows) and len(rows) == eng.table("alt_adt").count()
        eng.sql("DROP TABLE alt_adt")

    def test_drop_and_rename_column(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE alt_dr (a: Integer, b: Integer, c: Integer)")
        eng2.sql("INSERT INTO alt_dr VALUES (1, 2, 3)")
        eng2.sql("ALTER TABLE alt_dr DROP COLUMN b")
        eng2.sql("ALTER TABLE alt_dr RENAME COLUMN c TO z")
        rows = eng2.sql("SELECT * FROM alt_dr").collect()
        assert [tuple(r) for r in rows] == [(1, 3)]
        assert list(eng2.table("alt_dr").columns) == ["a", "z"]
        with pytest.raises(AdtError, match="unknown column"):
            eng2.sql("ALTER TABLE alt_dr DROP COLUMN b")
        with pytest.raises(AdtError, match="already exists"):
            eng2.sql("ALTER TABLE alt_dr RENAME COLUMN a TO z")
        eng2.sql("DROP TABLE alt_dr")

    def test_alter_errors(self, spark):
        eng2 = Engine(spark)
        with pytest.raises(AdtError, match="unknown table"):
            eng2.sql("ALTER TABLE nope_missing ADD COLUMN x: Integer")
        eng2.sql("CREATE TABLE alt_e (only_col: Integer)")
        with pytest.raises(AdtError, match="only column"):
            eng2.sql("ALTER TABLE alt_e DROP COLUMN only_col")
        with pytest.raises(AdtError, match="unsupported ALTER"):
            eng2.sql("ALTER TABLE alt_e SET SOMETHING = 1")
        eng2.sql("DROP TABLE alt_e")

    def test_alter_refuses_materialized_view(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE alt_mv_base (id: Integer)")
        eng2.sql("INSERT INTO alt_mv_base VALUES (1)")
        eng2.sql("CREATE MATERIALIZED VIEW alt_mv AS SELECT id FROM alt_mv_base")
        with pytest.raises(AdtError, match="materialized view"):
            eng2.sql("ALTER TABLE alt_mv ADD COLUMN x: Integer")
        eng2.sql("DROP MATERIALIZED VIEW alt_mv")
        eng2.sql("DROP TABLE alt_mv_base")

    def test_altered_schema_survives_catalog_roundtrip(self, spark, tmp_path):
        a = Engine(spark)
        a.sql("CREATE TABLE alt_p (id: Integer)")
        a.sql("ALTER TABLE alt_p ADD COLUMN note: Text DEFAULT 'x'")
        p = str(tmp_path / "cat.json")
        a.save_catalog(p)
        a.sql("DROP TABLE alt_p")
        b = Engine(spark)
        b.load_catalog(p)
        desc = {r.column_name: r.type for r in b.sql("DESCRIBE alt_p").collect()}
        assert desc == {"id": "bigint", "note": "string"}
        b.sql("DROP TABLE alt_p")

    def test_load_catalog_reconciles_fixture_drift(self, spark, tmp_path):
        """An ALTER on an attached fixture view is session-scoped: after
        a restart the re-attached view has its ORIGINAL columns while
        the saved catalog metadata recorded the altered shape. The live
        schema wins on load, so DESCRIBE never reports columns the data
        does not have."""
        spark.createDataFrame(
            [(1, "x")], "id long, name string"
        ).createOrReplaceTempView("fix_drift")
        a = Engine(spark)
        a.sql("ALTER TABLE fix_drift RENAME COLUMN name TO label")
        p = str(tmp_path / "cat_drift.json")
        a.save_catalog(p)
        # simulate a restart: the fixture comes back with its original shape
        spark.createDataFrame(
            [(1, "x")], "id long, name string"
        ).createOrReplaceTempView("fix_drift")
        b = Engine(spark)
        b.load_catalog(p)
        desc = {
            r.column_name: r.type for r in b.sql("DESCRIBE fix_drift").collect()
        }
        assert desc == {"id": "bigint", "name": "string"}
        spark.catalog.dropTempView("fix_drift")


class TestCopy:
    def test_copy_roundtrip_parquet_and_csv(self, spark, tmp_path):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE cp_t (id: Integer, v: Double, s: Text)")
        eng2.sql("INSERT INTO cp_t VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
        for fmt in ("parquet", "csv"):
            out = str(tmp_path / f"out_{fmt}")
            eng2.sql(f"COPY cp_t TO '{out}' (FORMAT {fmt})")
            eng2.sql(f"CREATE TABLE cp_{fmt} (id: Integer, v: Double, s: Text)")
            eng2.sql(f"COPY cp_{fmt} FROM '{out}' (FORMAT {fmt})")
            rows = eng2.sql(f"SELECT * FROM cp_{fmt} ORDER BY id").collect()
            assert [tuple(r) for r in rows] == [(1, 1.5, "a"), (2, 2.5, "b")]
            # schema comes from the table declaration, not inference
            assert dict(eng2.table(f"cp_{fmt}").dtypes)["id"] == "bigint"
            eng2.sql(f"DROP TABLE cp_{fmt}")
        eng2.sql("DROP TABLE cp_t")

    def test_copy_from_appends(self, spark, tmp_path):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE cp_a (id: Integer)")
        eng2.sql("INSERT INTO cp_a VALUES (1)")
        out = str(tmp_path / "cp_a_out")
        eng2.sql(f"COPY cp_a TO '{out}'")
        eng2.sql(f"COPY cp_a FROM '{out}'")  # append the exported copy
        assert eng2.table("cp_a").count() == 2
        eng2.sql("DROP TABLE cp_a")

    def test_copy_query_form_with_pattern(self, eng, tmp_path):
        """COPY (SELECT …) TO exports a query result — including one
        using the ADT pattern surface."""
        out = str(tmp_path / "circles")
        eng.sql(
            f"COPY (SELECT id, r FROM shapes WHERE s: Circle(r)) TO '{out}'"
        )
        got = eng.spark.read.parquet(out)
        assert set(got.columns) == {"id", "r"}
        assert got.count() >= 1

    def test_copy_errors(self, spark, tmp_path):
        eng2 = Engine(spark)
        with pytest.raises(AdtError, match="unknown table"):
            eng2.sql(f"COPY nope_missing TO '{tmp_path / 'x'}'")
        eng2.sql("CREATE TABLE cp_e (id: Integer)")
        with pytest.raises(AdtError, match="unsupported format"):
            eng2.sql(f"COPY cp_e TO '{tmp_path / 'x'}' (FORMAT avro)")
        with pytest.raises(AdtError, match="unknown option"):
            eng2.sql(f"COPY cp_e TO '{tmp_path / 'x'}' (FORMAT csv, BOGUS)")
        eng2.sql("DROP TABLE cp_e")

    def test_copy_to_refuses_existing_target_without_overwrite(
        self, spark, tmp_path
    ):
        """An existing target directory is an error unless OVERWRITE is
        given — a silent overwrite would let any export clobber an
        arbitrary writable path."""
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE cp_ow (id: Integer)")
        eng2.sql("INSERT INTO cp_ow VALUES (1)")
        out = str(tmp_path / "cp_ow_out")
        eng2.sql(f"COPY cp_ow TO '{out}'")
        with pytest.raises(Exception, match="already exists"):
            eng2.sql(f"COPY cp_ow TO '{out}'")
        eng2.sql("INSERT INTO cp_ow VALUES (2)")
        eng2.sql(f"COPY cp_ow TO '{out}' (FORMAT parquet, OVERWRITE)")
        assert spark.read.parquet(out).count() == 2
        eng2.sql("DROP TABLE cp_ow")

    def test_copy_from_refuses_matview(self, spark, tmp_path):
        """COPY FROM into a materialized view would silently diverge
        the snapshot from its defining query (next REFRESH discards
        the appended rows) — refused, mirroring ALTER."""
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE cp_mv_base (id: Integer)")
        eng2.sql("INSERT INTO cp_mv_base VALUES (1)")
        out = str(tmp_path / "cp_mv_out")
        eng2.sql(f"COPY cp_mv_base TO '{out}'")
        eng2.sql("CREATE MATERIALIZED VIEW cp_mv AS SELECT id FROM cp_mv_base")
        with pytest.raises(AdtError, match="materialized view"):
            eng2.sql(f"COPY cp_mv FROM '{out}'")
        eng2.sql("DROP MATERIALIZED VIEW cp_mv")
        eng2.sql("DROP TABLE cp_mv_base")


class TestMaterializedViews:
    def test_snapshot_then_refresh(self, spark, tables):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE mv_base (id: Integer, v: Double)")
        eng2.sql("INSERT INTO mv_base VALUES (1, 10.0), (2, 20.0)")
        eng2.sql(
            "CREATE MATERIALIZED VIEW mv_tot AS "
            "SELECT COUNT(*) AS n, SUM(v) AS total FROM mv_base"
        )
        before = eng2.sql("SELECT * FROM mv_tot").collect()[0]
        assert (before.n, before.total) == (2, 30.0)
        # base mutates; the snapshot must NOT move
        eng2.sql("UPDATE mv_base SET v = v * 10 WHERE id = 1")
        stale = eng2.sql("SELECT * FROM mv_tot").collect()[0]
        assert (stale.n, stale.total) == (2, 30.0)
        # refresh re-runs the defining query against current state
        eng2.sql("REFRESH MATERIALIZED VIEW mv_tot")
        fresh = eng2.sql("SELECT * FROM mv_tot").collect()[0]
        assert (fresh.n, fresh.total) == (2, 120.0)
        eng2.sql("DROP MATERIALIZED VIEW mv_tot")
        eng2.sql("DROP TABLE mv_base")

    def test_matview_visible_and_errors(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE MATERIALIZED VIEW mv_one AS SELECT 1 AS one")
        names = {r.table_name for r in eng2.sql("SHOW TABLES").collect()}
        assert "mv_one" in names
        with pytest.raises(AdtError):
            eng2.sql("CREATE MATERIALIZED VIEW mv_one AS SELECT 2 AS two")
        with pytest.raises(AdtError):
            eng2.sql("REFRESH MATERIALIZED VIEW mv_nope")
        eng2.sql("DROP MATERIALIZED VIEW mv_one")
        with pytest.raises(AdtError):
            eng2.sql("DROP MATERIALIZED VIEW mv_one")


class TestRecursiveCte:
    def test_with_recursive_walks_dedup_pair_graph(self, spark):
        """WITH RECURSIVE flows through the dialect read path into
        Spark 4's native recursive CTE execution: walk an undirected
        near-dup pair graph to its transitive closure (the SQL twin of
        dedup_components' min-label loop)."""
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dd_pairs (a: Integer, b: Integer)")
        eng2.sql("INSERT INTO dd_pairs VALUES (1, 2), (2, 3), (5, 6)")
        rows = eng2.sql(
            """
            WITH RECURSIVE reach(node, lvl) AS (
              SELECT CAST(1 AS BIGINT) AS node, 0 AS lvl
              UNION ALL
              SELECT CASE WHEN p.a = r.node THEN p.b ELSE p.a END, r.lvl + 1
              FROM reach r JOIN dd_pairs p ON p.a = r.node OR p.b = r.node
              WHERE r.lvl < 3
            )
            SELECT DISTINCT node FROM reach ORDER BY node
            """
        ).collect()
        # component of doc 1 is {1,2,3}; {5,6} is unreachable
        assert [r.node for r in rows] == [1, 2, 3]
        eng2.sql("DROP TABLE dd_pairs")

    def test_recursion_depth_is_bounded_not_infinite(self, spark):
        """An unbounded recursive walk over a cyclic graph must hit
        Spark's cteRecursionLevelLimit and raise — not spin forever."""
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dd_cycle (a: Integer, b: Integer)")
        eng2.sql("INSERT INTO dd_cycle VALUES (1, 2), (2, 1)")
        limit_key = "spark.sql.cteRecursionLevelLimit"
        prev = spark.conf.get(limit_key)
        spark.conf.set(limit_key, "8")  # default 100 — slow to hit in a test
        try:
            with pytest.raises(Exception, match="(?i)recursion|level|limit"):
                eng2.sql(
                    """
                    WITH RECURSIVE reach(node) AS (
                      SELECT CAST(1 AS BIGINT) AS node
                      UNION ALL
                      SELECT p.b FROM reach r JOIN dd_cycle p ON p.a = r.node
                    )
                    SELECT COUNT(*) AS n FROM reach
                    """
                ).collect()
        finally:
            spark.conf.set(limit_key, prev)
        eng2.sql("DROP TABLE dd_cycle")


class TestTemporalAndDecimalColumnTypes:
    """VERDICT r4 'missing' item 4: DECIMAL / DATE / TIMESTAMP /
    INTERVAL as DECLARABLE dialect column types — parenthesized and
    multi-word type names flow through the paren-aware column parser
    into Spark DDL, survive INSERT + DESCRIBE, and round-trip the
    saved catalog."""

    def test_decimal_column_declares_inserts_describes(self, spark, tmp_path):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE t_money (id: Integer, amount: Decimal(18,4))")
        eng2.sql("INSERT INTO t_money VALUES (1, 12.3456), (2, 0.0001)")
        rows = eng2.sql(
            "SELECT SUM(amount) AS total FROM t_money"
        ).collect()
        assert str(rows[0].total) == "12.3457"  # exact decimal, no float drift
        desc = {r.column_name: r.type for r in eng2.sql("DESCRIBE t_money").collect()}
        assert desc["amount"] == "decimal(18,4)"
        # catalog round-trip keeps the parameterized type
        p = str(tmp_path / "cat_money.json")
        eng2.save_catalog(p)
        eng2.sql("DROP TABLE t_money")
        b = Engine(spark)
        b.load_catalog(p)
        desc2 = {r.column_name: r.type for r in b.sql("DESCRIBE t_money").collect()}
        assert desc2["amount"] == "decimal(18,4)"
        b.sql("DROP TABLE t_money")

    def test_date_timestamp_interval_columns(self, spark):
        eng2 = Engine(spark)
        eng2.sql(
            "CREATE TABLE t_tmprl (id: Integer, d: Date, ts: Timestamp, "
            "dur: Interval Day To Second)"
        )
        eng2.sql(
            "INSERT INTO t_tmprl VALUES (1, DATE '2024-01-15', "
            "TIMESTAMP '2024-01-15 10:30:00', "
            "INTERVAL '1 02:03:04' DAY TO SECOND)"
        )
        r = eng2.sql(
            "SELECT id, d, ts, ts + dur AS arrival FROM t_tmprl"
        ).collect()[0]
        assert str(r.d) == "2024-01-15"
        assert str(r.arrival) == "2024-01-16 12:33:04"
        desc = {c.column_name: c.type for c in eng2.sql("DESCRIBE t_tmprl").collect()}
        assert desc == {
            "id": "bigint",
            "d": "date",
            "ts": "timestamp",
            "dur": "interval day to second",
        }
        eng2.sql("DROP TABLE t_tmprl")


class TestMerge:
    def test_merge_upsert_update_and_insert(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE mg_t (k: Integer, v: Double, tag: Text)")
        eng2.sql("INSERT INTO mg_t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
        eng2.sql("CREATE TABLE mg_s (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_s VALUES (2, 99.0), (3, 30.0)")
        eng2.sql(
            "MERGE INTO mg_t USING mg_s ON mg_t.k = mg_s.k "
            "WHEN MATCHED THEN UPDATE SET v = mg_s.v, tag = 'upd' "
            "WHEN NOT MATCHED THEN INSERT VALUES (mg_s.k, mg_s.v, 'new')"
        )
        got = {
            r.k: (r.v, r.tag)
            for r in eng2.sql("SELECT * FROM mg_t").collect()
        }
        assert got == {
            1: (10.0, "a"),     # target-only: untouched
            2: (99.0, "upd"),  # matched: updated
            3: (30.0, "new"),  # source-only: inserted
        }
        eng2.sql("DROP TABLE mg_t")
        eng2.sql("DROP TABLE mg_s")

    def test_merge_update_only_drops_unmatched_source(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE mg_u (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_u VALUES (1, 1.0)")
        eng2.sql("CREATE TABLE mg_us (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_us VALUES (1, 5.0), (9, 9.0)")
        eng2.sql(
            "MERGE INTO mg_u USING mg_us ON mg_u.k = mg_us.k "
            "WHEN MATCHED THEN UPDATE SET v = mg_us.v"
        )
        got = {r.k: r.v for r in eng2.table("mg_u").collect()}
        assert got == {1: 5.0}  # no INSERT clause: source-only row 9 dropped
        eng2.sql("DROP TABLE mg_u")
        eng2.sql("DROP TABLE mg_us")

    def test_merge_insert_only(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE mg_i (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_i VALUES (1, 1.0)")
        eng2.sql("CREATE TABLE mg_is (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_is VALUES (1, 5.0), (2, 2.0)")
        eng2.sql(
            "MERGE INTO mg_i USING mg_is ON mg_i.k = mg_is.k "
            "WHEN NOT MATCHED THEN INSERT VALUES (mg_is.k, mg_is.v)"
        )
        got = {r.k: r.v for r in eng2.table("mg_i").collect()}
        assert got == {1: 1.0, 2: 2.0}  # matched row keeps target value
        eng2.sql("DROP TABLE mg_i")
        eng2.sql("DROP TABLE mg_is")

    def test_merge_matched_delete(self, spark):
        """WHEN MATCHED THEN DELETE (round 11): matched rows drop,
        target-only rows pass through, and the INSERT clause still
        lands source-only rows."""
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE mg_d (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_d VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
        eng2.sql("CREATE TABLE mg_ds (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_ds VALUES (2, 0.0), (9, 9.0)")
        eng2.sql(
            "MERGE INTO mg_d USING mg_ds ON mg_d.k = mg_ds.k "
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT VALUES (mg_ds.k, mg_ds.v)"
        )
        got = {r.k: r.v for r in eng2.table("mg_d").collect()}
        assert got == {1: 1.0, 3: 3.0, 9: 9.0}  # 2 deleted, 9 inserted
        # delete-only form drops matched and unmatched-source alike
        eng2.sql("CREATE TABLE mg_d2 (k: Integer, v: Double)")
        eng2.sql("INSERT INTO mg_d2 VALUES (1, 1.0), (2, 2.0)")
        eng2.sql(
            "MERGE INTO mg_d2 USING mg_ds ON mg_d2.k = mg_ds.k "
            "WHEN MATCHED THEN DELETE"
        )
        assert {r.k for r in eng2.table("mg_d2").collect()} == {1}
        for t in ("mg_d", "mg_ds", "mg_d2"):
            eng2.sql(f"DROP TABLE {t}")

    def test_merge_errors(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE mg_e (k: Integer)")
        with pytest.raises(AdtError, match="at least one WHEN"):
            eng2.sql("MERGE INTO mg_e USING mg_e2 ON mg_e.k = mg_e2.k")
        with pytest.raises(AdtError, match="must differ"):
            eng2.sql(
                "MERGE INTO mg_e USING mg_e ON 1 = 1 "
                "WHEN MATCHED THEN UPDATE SET k = 1"
            )
        with pytest.raises(AdtError, match="unknown source"):
            eng2.sql(
                "MERGE INTO mg_e USING nope_src ON 1 = 1 "
                "WHEN MATCHED THEN UPDATE SET k = 1"
            )
        with pytest.raises(AdtError, match="unknown column"):
            eng2.sql("CREATE TABLE mg_e2 (k: Integer)")
            eng2.sql(
                "MERGE INTO mg_e USING mg_e2 ON mg_e.k = mg_e2.k "
                "WHEN MATCHED THEN UPDATE SET nope = 1"
            )
        with pytest.raises(AdtError, match="2 expressions for 1"):
            eng2.sql(
                "MERGE INTO mg_e USING mg_e2 ON mg_e.k = mg_e2.k "
                "WHEN NOT MATCHED THEN INSERT VALUES (mg_e2.k, 1)"
            )
        eng2.sql("DROP TABLE mg_e")
        eng2.sql("DROP TABLE mg_e2")

    def test_merge_is_server_mutation(self):
        from algebraicdb_spark.engine import mutates

        assert mutates(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )


class TestShowCreateAndTruncate:
    def test_show_create_table_round_trips(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TYPE Sc = A(x: Double) | B")
        eng2.sql("CREATE TABLE sct (id: Integer, s: Sc, amount: Decimal(18,4))")
        stmt = eng2.sql("SHOW CREATE TABLE sct").collect()[0].create_stmt
        assert stmt == "CREATE TABLE sct (id: bigint, s: Sc, amount: decimal(18,4))"
        # the emitted DDL is re-runnable against the same engine
        eng2.sql("DROP TABLE sct")
        eng2.sql(stmt)
        desc = {r.column_name: r.type for r in eng2.sql("DESCRIBE sct").collect()}
        assert desc == {"id": "bigint", "s": "Sc", "amount": "decimal(18,4)"}
        eng2.sql("DROP TABLE sct")

    def test_show_create_matview_shows_defining_query(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE scm_b (k: Integer)")
        eng2.sql("INSERT INTO scm_b VALUES (1)")
        eng2.sql("CREATE MATERIALIZED VIEW scm_v AS SELECT k FROM scm_b")
        stmt = eng2.sql("SHOW CREATE TABLE scm_v").collect()[0].create_stmt
        assert stmt == "CREATE MATERIALIZED VIEW scm_v AS SELECT k FROM scm_b"
        eng2.sql("DROP MATERIALIZED VIEW scm_v")
        eng2.sql("DROP TABLE scm_b")

    def test_show_create_unknown_table_errors(self, spark):
        with pytest.raises(AdtError, match="unknown table"):
            Engine(spark).sql("SHOW CREATE TABLE nope_sct")

    def test_truncate_empties_but_keeps_schema(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE tr_t (k: Integer, v: Double)")
        eng2.sql("INSERT INTO tr_t VALUES (1, 1.0), (2, 2.0)")
        eng2.sql("TRUNCATE TABLE tr_t")
        assert eng2.table("tr_t").count() == 0
        assert eng2.table("tr_t").columns == ["k", "v"]
        eng2.sql("INSERT INTO tr_t VALUES (3, 3.0)")  # still writable
        assert eng2.table("tr_t").count() == 1
        eng2.sql("DROP TABLE tr_t")


class TestFunctions:
    """CREATE FUNCTION — scalar SQL macros (DuckDB-style), textually
    inlined before pattern lowering."""

    def test_create_call_and_show(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE fn_t (a: Integer, b: Integer)")
        eng.sql("INSERT INTO fn_t VALUES (10, 2), (20, 3)")
        eng.sql("CREATE FUNCTION addmul(x, y) AS (x + y) * y")
        rows = eng.sql(
            "SELECT a, addmul(a, b) AS m FROM fn_t ORDER BY a"
        ).collect()
        assert [(r.a, r.m) for r in rows] == [(10, 24), (20, 69)]
        shown = eng.sql("SHOW FUNCTIONS").collect()
        assert [(r.function, r.parameters) for r in shown] == [("addmul", "x, y")]
        eng.sql("DROP TABLE fn_t")

    def test_argument_parenthesization_hygiene(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION dbl(x) AS x * 2")
        # 1 + 2 must be wrapped before the multiply: (1 + 2) * 2 = 6, not 5
        assert eng.sql("SELECT dbl(1 + 2) AS v").collect()[0].v == 6

    def test_nested_macros_expand(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION inner_net(p) AS p - 1")
        eng.sql("CREATE FUNCTION outer_net(p) AS inner_net(p) * 10")
        assert eng.sql("SELECT outer_net(5) AS v").collect()[0].v == 40

    def test_string_literals_never_expand(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION greet(x) AS x + 1")
        v = eng.sql("SELECT 'greet(1)' AS s").collect()[0].s
        assert v == "greet(1)"

    def test_or_replace_and_duplicate_error(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION rep(x) AS x + 1")
        with pytest.raises(AdtError, match="already exists"):
            eng.sql("CREATE FUNCTION rep(x) AS x + 2")
        eng.sql("CREATE OR REPLACE FUNCTION rep(x) AS x + 2")
        assert eng.sql("SELECT rep(1) AS v").collect()[0].v == 3

    def test_recursive_macro_rejected_at_declare_time(self, spark):
        eng = Engine(spark)
        with pytest.raises(AdtError, match="did not terminate"):
            eng.sql("CREATE FUNCTION loopy(x) AS loopy(x) + 1")
        assert not eng.sql("SHOW FUNCTIONS").collect()

    def test_arity_mismatch_errors(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION two_args(x, y) AS x + y")
        with pytest.raises(AdtError, match="expects 2"):
            eng.sql("SELECT two_args(1) AS v")

    def test_drop_function(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION gone(x) AS x")
        eng.sql("DROP FUNCTION gone")
        with pytest.raises(AdtError, match="no such function"):
            eng.sql("DROP FUNCTION gone")

    def test_functions_persist_via_catalog(self, spark, tmp_path):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION keeper(x) AS x * 3")
        path = str(tmp_path / "cat.json")
        eng.save_catalog(path)
        eng2 = Engine(spark)
        eng2.load_catalog(path)
        assert eng2.sql("SELECT keeper(7) AS v").collect()[0].v == 21

    def test_macro_composes_with_adt_patterns(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TYPE FnShape = FnCircle(r: Double) | FnPoint")
        eng.sql("CREATE TABLE fn_shapes (id: Integer, s: FnShape)")
        eng.sql("INSERT INTO fn_shapes VALUES (1, FnCircle(2.0)), (2, FnPoint)")
        eng.sql("CREATE FUNCTION area_floor(r) AS r * r * 3")
        rows = eng.sql(
            "SELECT id, area_floor(r) AS a FROM fn_shapes WHERE s: FnCircle(r)"
        ).collect()
        assert [(r.id, r.a) for r in rows] == [(1, 12.0)]
        eng.sql("DROP TABLE fn_shapes")

    def test_create_drop_function_are_server_mutations(self):
        from algebraicdb_spark.engine import mutates

        assert mutates("CREATE FUNCTION f(x) AS x")
        assert mutates("DROP FUNCTION f")
        assert not mutates("SHOW FUNCTIONS")


class TestViews:
    """CREATE VIEW — logical (re-resolving) views, the lazy twin of
    CREATE MATERIALIZED VIEW."""

    def test_create_query_and_freshness(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE vw_b (k: Integer, v: Integer)")
        eng.sql("INSERT INTO vw_b VALUES (1, 10), (2, 20)")
        eng.sql("CREATE VIEW vw_v AS SELECT k, v * 2 AS dbl FROM vw_b")
        assert {(r.k, r.dbl) for r in eng.sql("SELECT * FROM vw_v").collect()} == {
            (1, 20),
            (2, 40),
        }
        # a logical view must see subsequent base mutations
        eng.sql("INSERT INTO vw_b VALUES (3, 30)")
        assert {(r.k, r.dbl) for r in eng.sql("SELECT * FROM vw_v").collect()} == {
            (1, 20),
            (2, 40),
            (3, 60),
        }
        eng.sql("DROP VIEW vw_v")
        eng.sql("DROP TABLE vw_b")

    def test_view_composes_with_patterns_and_macros(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TYPE VwShape = VwCircle(r: Double) | VwPoint")
        eng.sql("CREATE TABLE vw_shapes (id: Integer, s: VwShape)")
        eng.sql("INSERT INTO vw_shapes VALUES (1, VwCircle(3.0)), (2, VwPoint)")
        eng.sql("CREATE FUNCTION vw_area(r) AS r * r * 3")
        eng.sql(
            "CREATE VIEW vw_circles AS "
            "SELECT id, vw_area(r) AS a FROM vw_shapes WHERE s: VwCircle(r)"
        )
        rows = eng.sql("SELECT * FROM vw_circles").collect()
        assert [(r.id, r.a) for r in rows] == [(1, 27.0)]
        eng.sql("DROP VIEW vw_circles")
        eng.sql("DROP TABLE vw_shapes")

    def test_view_mutation_refused(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE vw_m (k: Integer)")
        eng.sql("INSERT INTO vw_m VALUES (1)")
        eng.sql("CREATE VIEW vw_mv AS SELECT k FROM vw_m")
        for stmt in (
            "INSERT INTO vw_mv VALUES (9)",
            "DELETE FROM vw_mv",
            "UPDATE vw_mv SET k = 2",
            "TRUNCATE vw_mv",
            "DROP TABLE vw_mv",
            "ALTER TABLE vw_mv ADD COLUMN x Integer",
        ):
            with pytest.raises(AdtError, match="view"):
                eng.sql(stmt)
        eng.sql("DROP VIEW vw_mv")
        eng.sql("DROP TABLE vw_m")

    def test_or_replace_and_duplicate(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE vw_r (k: Integer)")
        eng.sql("INSERT INTO vw_r VALUES (4)")
        eng.sql("CREATE VIEW vw_rv AS SELECT k FROM vw_r")
        with pytest.raises(AdtError, match="already exists"):
            eng.sql("CREATE VIEW vw_rv AS SELECT k + 1 AS k FROM vw_r")
        eng.sql("CREATE OR REPLACE VIEW vw_rv AS SELECT k + 1 AS k2 FROM vw_r")
        assert eng.sql("SELECT * FROM vw_rv").collect()[0].k2 == 5
        eng.sql("DROP VIEW vw_rv")
        eng.sql("DROP TABLE vw_r")

    def test_show_create_and_describe(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE vw_s (k: Integer)")
        eng.sql("CREATE VIEW vw_sv AS SELECT k FROM vw_s")
        stmt = eng.sql("SHOW CREATE TABLE vw_sv").collect()[0].create_stmt
        assert stmt == "CREATE VIEW vw_sv AS SELECT k FROM vw_s"
        desc = {r.column_name for r in eng.sql("DESCRIBE vw_sv").collect()}
        assert desc == {"k"}
        eng.sql("DROP VIEW vw_sv")
        eng.sql("DROP TABLE vw_s")

    def test_views_persist_via_catalog(self, spark, tmp_path):
        eng = Engine(spark)
        eng.sql("CREATE TABLE vw_p (k: Integer)")
        eng.sql("INSERT INTO vw_p VALUES (7)")
        eng.sql("CREATE VIEW vw_pv AS SELECT k * 10 AS big FROM vw_p")
        path = str(tmp_path / "cat.json")
        eng.save_catalog(path)
        eng2 = Engine(spark)
        eng2.load_catalog(path)
        # data survives only because the temp view is session-shared;
        # the point is the VIEW re-declares and still resolves
        assert eng2.sql("SELECT * FROM vw_pv").collect()[0].big == 70
        eng2.sql("DROP VIEW vw_pv")
        eng2.sql("DROP TABLE vw_p")

    def test_drop_view_errors_and_if_exists(self, spark):
        eng = Engine(spark)
        with pytest.raises(AdtError, match="no such view"):
            eng.sql("DROP VIEW vw_nope")
        eng.sql("DROP VIEW IF EXISTS vw_nope")

    def test_create_drop_view_are_server_mutations(self):
        from algebraicdb_spark.engine import mutates

        assert mutates("CREATE VIEW v AS SELECT 1")
        assert mutates("DROP VIEW v")


class TestTableMacros:
    """Parenthesized-SELECT macro bodies compose as TABLE macros in
    FROM position — DuckDB-style table functions for free from the
    textual expansion machinery."""

    def test_table_macro_in_from(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE tmac_b (k: Integer, v: Integer)")
        eng.sql("INSERT INTO tmac_b VALUES (1, 10), (2, 20), (3, 30)")
        eng.sql(
            "CREATE FUNCTION tmac_top(lim) AS "
            "(SELECT k, v FROM tmac_b ORDER BY v DESC LIMIT lim)"
        )
        rows = eng.sql("SELECT * FROM tmac_top(2)").collect()
        assert [(r.k, r.v) for r in rows] == [(3, 30), (2, 20)]
        # composes under aggregation and with expression arguments
        assert eng.sql("SELECT SUM(v) AS s FROM tmac_top(1 + 1)").collect()[0].s == 50
        eng.sql("DROP FUNCTION tmac_top")
        eng.sql("DROP TABLE tmac_b")

    def test_table_macro_joins_with_tables(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE TABLE tmac_j (k: Integer, w: Integer)")
        eng.sql("INSERT INTO tmac_j VALUES (1, 100), (2, 200)")
        eng.sql("CREATE FUNCTION tmac_pick(kk) AS (SELECT kk AS k)")
        rows = eng.sql(
            "SELECT t.k, j.w FROM tmac_pick(2) t JOIN tmac_j j ON j.k = t.k"
        ).collect()
        assert [(r.k, r.w) for r in rows] == [(2, 200)]
        eng.sql("DROP FUNCTION tmac_pick")
        eng.sql("DROP TABLE tmac_j")


class TestMacroDefaults:
    """Default parameter values (`p := expr`, DuckDB-style)."""

    def test_defaults_fill_missing_tail_args(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION md_scaled(x, factor := 10) AS x * factor")
        r = eng.sql("SELECT md_scaled(3) AS a, md_scaled(3, 2) AS b").collect()[0]
        assert (r.a, r.b) == (30, 6)
        shown = {f.function: f.parameters for f in eng.sql("SHOW FUNCTIONS").collect()}
        assert shown["md_scaled"] == "x, factor := 10"

    def test_default_may_call_another_macro(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION md_base() AS 100")
        eng.sql("CREATE FUNCTION md_taxed(p, rate := md_base()) AS p + rate")
        assert eng.sql("SELECT md_taxed(1) AS t").collect()[0].t == 101
        assert eng.sql("SELECT md_taxed(1, 5) AS t").collect()[0].t == 6

    def test_arity_range_enforced(self, spark):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION md_two(x, y := 1) AS x + y")
        with pytest.raises(AdtError, match="1..2"):
            eng.sql("SELECT md_two() AS v")
        with pytest.raises(AdtError, match="1..2"):
            eng.sql("SELECT md_two(1, 2, 3) AS v")

    def test_required_after_default_rejected(self, spark):
        eng = Engine(spark)
        with pytest.raises(AdtError, match="after"):
            eng.sql("CREATE FUNCTION md_bad(x := 1, y) AS x + y")

    def test_defaults_persist_via_catalog(self, spark, tmp_path):
        eng = Engine(spark)
        eng.sql("CREATE FUNCTION md_keep(x, k := 7) AS x * k")
        path = str(tmp_path / "cat.json")
        eng.save_catalog(path)
        eng2 = Engine(spark)
        eng2.load_catalog(path)
        assert eng2.sql("SELECT md_keep(2) AS v").collect()[0].v == 14


class TestAnalyzeStats:
    def test_analyze_returns_and_caches_stats(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE an_t (k: Integer, v: Double, s: Text)")
        eng2.sql(
            "INSERT INTO an_t VALUES (1, 1.0, 'a'), (2, 2.0, 'a'), "
            "(3, NULL, NULL)"
        )
        rows = {r.column_name: r for r in eng2.sql("ANALYZE an_t").collect()}
        assert set(rows) == {"k", "v", "s"}
        assert all(r.n_rows == 3 for r in rows.values())
        assert rows["k"].ndv_approx == 3  # HLL exact at tiny N
        assert rows["v"].n_nulls == 1 and rows["s"].n_nulls == 1
        assert rows["s"].ndv_approx == 1
        # SHOW STATS reads the cache without rescanning
        again = {
            r.column_name: r
            for r in eng2.sql("SHOW STATS FOR an_t").collect()
        }
        assert again["k"].ndv_approx == 3
        eng2.sql("DROP TABLE an_t")

    def test_show_stats_requires_prior_analyze(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE an_u (k: Integer)")
        with pytest.raises(AdtError, match="has not been ANALYZEd"):
            eng2.sql("SHOW STATS an_u")
        eng2.sql("DROP TABLE an_u")

    def test_stats_evicted_on_drop_and_mutation(self, spark):
        # advisor finding: DROP + recreate must not serve the old
        # table's statistics; mutations must force re-ANALYZE
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE an_ev (k: Integer)")
        eng2.sql("INSERT INTO an_ev VALUES (1), (2)")
        eng2.sql("ANALYZE an_ev")
        eng2.sql("DROP TABLE an_ev")
        eng2.sql("CREATE TABLE an_ev (k: Integer)")
        with pytest.raises(AdtError, match="has not been ANALYZEd"):
            eng2.sql("SHOW STATS an_ev")
        eng2.sql("INSERT INTO an_ev VALUES (1)")
        eng2.sql("ANALYZE an_ev")
        for mutation in (
            "INSERT INTO an_ev VALUES (9)",
            "UPDATE an_ev SET k = 5 WHERE k = 9",
            "DELETE FROM an_ev WHERE k = 5",
            "TRUNCATE an_ev",
        ):
            eng2.sql("ANALYZE an_ev")
            eng2.sql(mutation)
            with pytest.raises(AdtError, match="has not been ANALYZEd"):
                eng2.sql("SHOW STATS an_ev")
        eng2.sql("DROP TABLE an_ev")

    def test_analyze_unknown_table_errors(self, spark):
        with pytest.raises(AdtError, match="no such table"):
            Engine(spark).sql("ANALYZE TABLE nope_an")

    def test_analyze_works_on_fixture_views(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = {
            r.column_name: r for r in eng2.sql("ANALYZE region").collect()
        }
        assert rows["r_regionkey"].n_rows == 5
        assert rows["r_regionkey"].ndv_approx == 5


class TestQualify:
    def test_qualify_alias_top1_per_key(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT o_custkey, o_orderkey, "
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            "FROM orders QUALIFY rn = 1 ORDER BY o_custkey LIMIT 10"
        ).collect()
        assert len(rows) == 10
        assert all(r.rn == 1 for r in rows)
        assert "rn" in rows[0].asDict()  # helper column stripped, rn kept

    def test_qualify_raw_window_expression(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        got = eng2.sql(
            "SELECT o_custkey, o_orderkey FROM orders "
            "QUALIFY row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderkey) = 1"
        )
        assert got.count() == eng2.table("orders").select(
            "o_custkey"
        ).distinct().count()
        assert got.columns == ["o_custkey", "o_orderkey"]

    def test_qualify_composes_with_where(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT o_custkey, o_totalprice, "
            "rank() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC) AS r "
            "FROM orders WHERE o_orderstatus = 'F' QUALIFY r <= 2"
        ).collect()
        assert rows and all(r.r <= 2 for r in rows)

    def test_qualify_string_literal_not_confused(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT 'qualify me' AS s, r_regionkey, "
            "row_number() OVER (ORDER BY r_regionkey) AS rn "
            "FROM region QUALIFY rn <= 2"
        ).collect()
        assert len(rows) == 2 and rows[0].s == "qualify me"

    def test_qualify_empty_predicate_errors(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        with pytest.raises(AdtError, match="empty predicate"):
            eng2.sql("SELECT r_regionkey FROM region QUALIFY LIMIT 2")

    def test_qualify_setop_refused(self, spark, sf_dir):
        # the UNION branch would otherwise be swallowed into the
        # predicate, surfacing as an opaque Spark parse error
        eng2 = Engine(spark, sf_dir)
        with pytest.raises(AdtError, match="set-operation"):
            eng2.sql(
                "SELECT r_regionkey, row_number() OVER (ORDER BY "
                "r_regionkey) AS rn FROM region QUALIFY rn = 1 "
                "UNION ALL SELECT n_regionkey, 1 FROM nation"
            )
        with pytest.raises(AdtError, match="set-operation"):
            eng2.sql(
                "SELECT n_regionkey FROM nation UNION "
                "SELECT r_regionkey FROM region "
                "QUALIFY row_number() OVER (ORDER BY r_regionkey) = 1"
            )

    def test_qualify_setop_inside_subquery_ok(self, spark, sf_dir):
        # parenthesized (depth > 0) set-ops stay legal under QUALIFY
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM "
            "(SELECT r_regionkey AS k FROM region UNION ALL "
            "SELECT n_regionkey AS k FROM nation) u QUALIFY rn <= 3"
        ).collect()
        assert len(rows) == 3 and all(r.rn <= 3 for r in rows)


class TestDecimalInterval:
    """DECIMAL(p,s) / INTERVAL as declarable dialect column types
    (round-5 verdict, missing item 4): exact-money arithmetic
    end-to-end, not just inside operators."""

    def test_decimal_lifecycle_exact_sum_vs_duckdb(self, spark):
        import duckdb

        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dl_money (k: Integer, price: Decimal(12,2))")
        vals = [(1, "19.99"), (2, "0.01"), (3, "1000000.10"), (4, "-0.05")]
        eng2.sql(
            "INSERT INTO dl_money VALUES "
            + ", ".join(f"({k}, {p})" for k, p in vals)
        )
        got = eng2.sql(
            "SELECT CAST(SUM(price) AS STRING) AS total, COUNT(*) AS n "
            "FROM dl_money"
        ).collect()[0]
        # exact oracle twin: DuckDB sums the same DECIMAL(12,2) column
        want = duckdb.sql(
            "SELECT CAST(SUM(CAST(p AS DECIMAL(12,2))) AS VARCHAR) FROM ("
            + " UNION ALL ".join(f"SELECT '{p}' AS p" for _, p in vals)
            + ")"
        ).fetchone()[0]
        assert got.total == want == "1000020.05" and got.n == 4
        # a 0.005 cent can't exist: inserts are CAST to the declared
        # scale, so the stored values are exactly representable
        desc = {
            r.column_name: r.type
            for r in eng2.sql("DESCRIBE dl_money").collect()
        }
        assert desc["price"] == "decimal(12,2)"
        eng2.sql("DROP TABLE dl_money")

    def test_decimal_avg_and_where(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dl_avg (price: Decimal(10,2))")
        eng2.sql("INSERT INTO dl_avg VALUES (1.10), (2.30), (3.60)")
        got = eng2.sql(
            "SELECT CAST(AVG(price) AS STRING) AS a, "
            "CAST(SUM(price) AS STRING) AS s FROM dl_avg "
            "WHERE price > 1.00"
        ).collect()[0]
        assert got.s == "7.00"
        assert got.a.startswith("2.33333")
        eng2.sql("DROP TABLE dl_avg")

    def test_interval_column_sums_and_compares(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dl_spans (k: Integer, dur: Interval)")
        eng2.sql(
            "INSERT INTO dl_spans VALUES (1, '0 01:30:00'), "
            "(2, '0 00:45:00'), (3, '1 00:00:00')"
        )
        got = eng2.sql(
            "SELECT CAST(SUM(dur) AS STRING) AS total, "
            "COUNT(*) AS n FROM dl_spans WHERE dur >= INTERVAL '1' HOUR"
        ).collect()[0]
        # 1:30 + 24:00 (the 45-min row is filtered out)
        assert got.n == 2 and "1 01:30" in got.total
        desc = {
            r.column_name: r.type
            for r in eng2.sql("DESCRIBE dl_spans").collect()
        }
        assert desc["dur"] == "interval day to second"
        eng2.sql("DROP TABLE dl_spans")

    def test_interval_year_month_passthrough(self, spark):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dl_ym (age: Interval Year To Month)")
        eng2.sql("INSERT INTO dl_ym VALUES ('1-6'), ('0-6')")
        got = eng2.sql(
            "SELECT CAST(SUM(age) AS STRING) AS total FROM dl_ym"
        ).collect()[0]
        assert "2-0" in got.total
        eng2.sql("DROP TABLE dl_ym")

    def test_decimal_survives_catalog_roundtrip(self, spark, tmp_path):
        eng2 = Engine(spark)
        eng2.sql("CREATE TABLE dl_cat (price: Decimal(14,4))")
        path = str(tmp_path / "cat.json")
        eng2.save_catalog(path)
        eng2.sql("DROP TABLE dl_cat")
        eng3 = Engine(spark)
        eng3.load_catalog(path)
        desc = {
            r.column_name: r.type
            for r in eng3.sql("DESCRIBE dl_cat").collect()
        }
        assert desc["price"] == "decimal(14,4)"
        eng3.sql("DROP TABLE dl_cat")


class TestRecursive:
    """WITH RECURSIVE: UNION ALL runs natively (one Catalyst plan);
    UNION distinct lowers to the semi-naive set fixpoint Spark can't
    express (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE)."""

    def test_union_all_series_native(self, spark):
        got = Engine(spark).sql(
            "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL "
            "SELECT n + 1 FROM t WHERE n < 10) "
            "SELECT CAST(SUM(n) AS BIGINT) AS s, COUNT(*) AS c FROM t"
        ).collect()
        assert got[0].s == 55 and got[0].c == 10

    def test_union_distinct_terminates_on_cycle(self, spark):
        # reachability over a cyclic graph: UNION ALL would spin to the
        # recursion limit; the distinct fixpoint stops at closure
        rows = Engine(spark).sql(
            """
            WITH RECURSIVE e(src, dst) AS (
              SELECT 0, 1 UNION ALL SELECT 1, 2 UNION ALL
              SELECT 2, 0 UNION ALL SELECT 5, 6
            ),
            walk(id, label) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.id
            ),
            comp AS (SELECT id, MIN(label) AS label FROM walk GROUP BY id)
            SELECT label, COUNT(*) AS n FROM comp GROUP BY label
            ORDER BY label
            """
        ).collect()
        assert [(r.label, r.n) for r in rows] == [(0, 3), (5, 2)]

    def test_deep_chain_reaches_fixpoint(self, spark):
        # a 40-hop chain needs 40 frontier rounds — semi-naive keeps
        # each round's work at one frontier row, not the whole closure
        rows = Engine(spark).sql(
            """
            WITH RECURSIVE hop(n) AS (
              SELECT 0
              UNION
              SELECT n + 1 FROM hop WHERE n < 40
            )
            SELECT COUNT(*) AS c, CAST(MAX(n) AS BIGINT) AS m FROM hop
            """
        ).collect()
        assert rows[0].c == 41 and rows[0].m == 40

    def test_self_join_step_uses_naive_mode(self, spark):
        # transitive closure via walk JOIN walk: the step references
        # the CTE twice, so delta-only evaluation would miss
        # delta-x-old pairs — the engine must fall back to full-state
        # evaluation and still converge
        rows = Engine(spark).sql(
            """
            WITH RECURSIVE tc(src, dst) AS (
              SELECT * FROM VALUES (1, 2), (2, 3), (3, 4) AS e(s, d)
              UNION
              SELECT a.src, b.dst FROM tc a JOIN tc b ON a.dst = b.src
            )
            SELECT COUNT(*) AS c FROM tc
            """
        ).collect()
        assert rows[0].c == 6  # 3 edges + (1,3),(2,4),(1,4)

    def test_suffix_cte_and_final_see_result(self, spark, sf_dir):
        got = Engine(spark, sf_dir).sql(
            """
            WITH RECURSIVE r(k) AS (
              SELECT 0 UNION SELECT k + 1 FROM r WHERE k < 3
            ),
            named AS (
              SELECT r_name FROM region JOIN r ON r_regionkey = k
            )
            SELECT COUNT(*) AS c FROM named
            """
        ).collect()
        assert got[0].c == 4

    def test_mixed_union_kinds_refused(self, spark):
        with pytest.raises(AdtError, match="mixed UNION"):
            Engine(spark).sql(
                "WITH RECURSIVE w(n) AS (SELECT 1 UNION "
                "SELECT n + 1 FROM w UNION ALL SELECT n + 2 FROM w) "
                "SELECT 1"
            )

    def test_no_anchor_refused(self, spark):
        with pytest.raises(AdtError, match="anchor"):
            Engine(spark).sql(
                "WITH RECURSIVE w(n) AS (SELECT n + 1 FROM w UNION "
                "SELECT n + 2 FROM w) SELECT 1"
            )

    def test_nonconvergence_raises(self, spark):
        spark.conf.set("spark.sql.cteRecursionLevelLimit", "5")
        try:
            with pytest.raises(AdtError, match="no fixpoint within 5"):
                Engine(spark).sql(
                    "WITH RECURSIVE w(n) AS (SELECT 1 UNION "
                    "SELECT n + 1 FROM w) SELECT COUNT(*) FROM w"
                )
        finally:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")

    def test_constraint_conf_restored(self, spark):
        before = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
        Engine(spark).sql(
            "WITH RECURSIVE t(n) AS (SELECT 1 UNION "
            "SELECT n + 1 FROM t WHERE n < 3) SELECT * FROM t"
        ).collect()
        assert (
            spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
            == before
        )

    def test_params_refused(self, spark):
        with pytest.raises(AdtError, match="parameters"):
            Engine(spark).sql(
                "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL "
                "SELECT n + 1 FROM t WHERE n < :k) SELECT * FROM t",
                params={"k": 3},
            )


class TestIterate:
    """WITH ITERATE: the replacement fixpoint (state_{i+1} =
    step(state_i)) recursive CTEs cannot express — aggregating steps
    like k-core peeling and label propagation."""

    def test_peel_converges(self, spark):
        rows = Engine(spark).sql(
            """
            WITH ITERATE s(v) AS (
              SELECT * FROM VALUES (1), (2), (3), (10), (11), (12) AS t(v)
              STEP SELECT v FROM s WHERE v >= (SELECT AVG(v) - 3 FROM s)
            )
            SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS total FROM s
            """
        ).collect()
        assert rows[0].n == 3 and rows[0].total == 33

    def test_max_bounds_rounds(self, spark):
        got = Engine(spark).sql(
            "WITH ITERATE g(v) MAX 5 AS (SELECT 1 AS v "
            "STEP SELECT v * 2 AS v FROM g) SELECT MAX(v) AS m FROM g"
        ).collect()
        assert got[0].m == 32  # exactly 5 doublings, then stop

    def test_oscillation_without_max_raises(self, spark):
        spark.conf.set("spark.sql.cteRecursionLevelLimit", "6")
        try:
            with pytest.raises(AdtError, match="no fixpoint within 6"):
                Engine(spark).sql(
                    "WITH ITERATE g(v) AS (SELECT 1 AS v "
                    "STEP SELECT 1 - v AS v FROM g) SELECT * FROM g"
                )
        finally:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")

    def test_step_must_reference_state(self, spark):
        with pytest.raises(AdtError, match="must reference"):
            Engine(spark).sql(
                "WITH ITERATE s(v) AS (SELECT 1 AS v STEP SELECT 2 AS v) "
                "SELECT 1"
            )

    def test_missing_step_refused(self, spark):
        with pytest.raises(AdtError, match="STEP"):
            Engine(spark).sql(
                "WITH ITERATE s(v) AS (SELECT 1 AS v) SELECT 1"
            )

    def test_kcore_twin_matches_python_operator(self, spark, sf_dir):
        from algebraicdb_spark.operators.fixpoint_queries import (
            dialect_iterate_kcore,
        )
        from algebraicdb_spark.operators.graph import graph_kcore

        got = dialect_iterate_kcore(spark, sf_dir).collect()[0]
        want = graph_kcore(spark, sf_dir).collect()[0]
        assert got.asDict() == want.asDict()

    def test_components_twin_matches_python_operator(self, spark, sf_dir):
        from algebraicdb_spark.operators.dedup import dedup_components
        from algebraicdb_spark.operators.fixpoint_queries import (
            dialect_recursive_components,
        )

        got = {
            r.n_members: (r.n_components, r.root_checksum)
            for r in dialect_recursive_components(spark, sf_dir).collect()
        }
        want = {
            r.n_members: (r.n_components, r.root_checksum)
            for r in dedup_components(spark, sf_dir).collect()
        }
        assert got == want


class TestDistinctOn:
    def test_distinct_on_latest_per_key(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, "
            "o_totalprice FROM orders "
            "ORDER BY o_custkey, o_totalprice DESC, o_orderkey LIMIT 20"
        ).collect()
        assert len(rows) == 20
        assert rows[0].o_custkey < rows[1].o_custkey  # outer order kept
        # survivor is the priciest order of its customer
        top = eng2.spark.sql(
            "SELECT o_custkey, MAX(o_totalprice) AS m FROM orders "
            "GROUP BY o_custkey"
        ).collect()
        maxes = {r.o_custkey: r.m for r in top}
        for r in rows:
            assert abs(r.o_totalprice - maxes[r.o_custkey]) < 1e-9

    def test_distinct_on_without_order_by(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT DISTINCT ON (o_orderstatus) o_orderstatus FROM orders"
        ).collect()
        statuses = {r.o_orderstatus for r in rows}
        assert len(rows) == len(statuses) == 3

    def test_distinct_on_composes_with_where(self, spark, sf_dir):
        eng2 = Engine(spark, sf_dir)
        rows = eng2.sql(
            "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey "
            "FROM orders WHERE o_orderstatus = 'F' "
            "ORDER BY o_custkey, o_orderkey LIMIT 5"
        ).collect()
        assert len(rows) == 5
        # one row per customer
        assert len({r.o_custkey for r in rows}) == 5


def test_explain_fixpoint_clear_error(spark):
    with pytest.raises(AdtError, match="EXPLAIN is not supported for WITH"):
        Engine(spark).sql(
            "EXPLAIN WITH RECURSIVE t(n) AS (SELECT 1 UNION "
            "SELECT n + 1 FROM t WHERE n < 3) SELECT * FROM t"
        )
