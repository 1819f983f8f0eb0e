"""Engine facade: the reference's statement workflow end-to-end —
CREATE TYPE → construct → store → SQL over the encoded column."""

import pytest
from pyspark.sql import functions as F

from algebraicdb_spark.engine import Engine, parse_create_type
from algebraicdb_spark.functions.adt import AdtError, AdtMatchError


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return Engine(spark, sf_dir=sf_dir)


def test_create_type_statement_roundtrip(eng):
    adt = eng.sql(
        "CREATE TYPE Shape = Circle(r: DOUBLE) | Rect(w: DOUBLE, h: DOUBLE) | Point"
    )
    assert adt.tags == ("Circle", "Rect", "Point")
    assert eng.type("Shape") is adt
    assert adt.variants[1].fields == (("w", "double"), ("h", "double"))


def test_parse_rejects_malformed():
    # NB: `Circle(r)` is now LEGAL — the reference's positional form
    with pytest.raises(AdtError):
        parse_create_type("CREATE TYPE Bad = Circle(r:)")
    with pytest.raises(AdtError):
        parse_create_type("CREATE TYPE Bad = circle(r: Double)")
    with pytest.raises(AdtError):
        parse_create_type("SELECT 1")


def test_select_over_constructed_column(eng):
    shape = eng.sql("CREATE TYPE Shape2 = Big(price: DOUBLE) | Small")
    df = eng.table("orders").select(
        "o_orderkey",
        shape.construct_when(
            [
                (F.col("o_totalprice") > 150000.0, "Big", {"price": F.col("o_totalprice")}),
                (F.lit(True), "Small", {}),
            ]
        ).alias("s"),
    )
    eng.create_table("order_shapes", df)
    out = {
        r["tag"]: r["n"]
        for r in eng.sql(
            "SELECT s.tag AS tag, COUNT(*) AS n FROM order_shapes GROUP BY s.tag"
        ).collect()
    }
    total = eng.table("orders").count()
    assert set(out) == {"Big", "Small"} and sum(out.values()) == total
    # match over the stored column, exhaustiveness enforced
    with pytest.raises(AdtMatchError):
        shape.match(F.col("s"), {"Big": lambda p: p["price"]})


def test_plain_sql_delegates(eng):
    assert eng.sql("SELECT 1 AS one").collect()[0]["one"] == 1


def test_unknown_type_errors(eng):
    with pytest.raises(AdtError, match="unknown type"):
        eng.type("Nope")


def test_catalog_save_load_roundtrip(spark, tmp_path):
    from algebraicdb_spark.engine import Engine

    a = Engine(spark)
    a.sql("CREATE TYPE CatShape = Dot | Ball(r: Double)")
    a.sql("CREATE TYPE CatWrap = Keep(s: CatShape, tag: Text) | Toss")
    a.sql("CREATE TABLE cat_t (id: Integer, w: CatWrap)")
    a.sql("INSERT INTO cat_t VALUES (1, Keep(Ball(2.0), 'x')), (2, Toss)")
    a.sql("CREATE MATERIALIZED VIEW cat_mv AS SELECT COUNT(*) AS n FROM cat_t")
    p = str(tmp_path / "catalog.json")
    a.save_catalog(p)

    # fresh engine in a fresh session namespace: drop the views first
    spark.catalog.dropTempView("cat_t")
    spark.catalog.dropTempView("cat_mv")
    b = Engine(spark)
    b.load_catalog(p)
    # types restored structurally (nested ADT reference intact)
    assert set(b.types) >= {"CatShape", "CatWrap"}
    assert b.type("CatWrap")._by_name["Keep"].fields[0][1].name == "CatShape"
    # table restored EMPTY with the right schema; dialect still works
    assert b.table("cat_t").count() == 0
    b.sql("INSERT INTO cat_t VALUES (3, Keep(Dot, 'y'))")
    rows = b.sql("SELECT id, tag FROM cat_t WHERE w: Keep(_, tag)").collect()
    assert [(r.id, r.tag) for r in rows] == [(3, "y")]
    # matview definition restored; snapshot taken at load time (table
    # was empty then) — REFRESH folds in the post-load insert
    assert b.sql("SELECT * FROM cat_mv").collect()[0].n == 0
    b.sql("REFRESH MATERIALIZED VIEW cat_mv")
    assert b.sql("SELECT * FROM cat_mv").collect()[0].n == 1
    b.sql("DROP MATERIALIZED VIEW cat_mv")
    b.sql("DROP TABLE cat_t")


class TestSqlScript:
    def test_script_runs_in_order_returns_last(self, spark):
        from algebraicdb_spark.engine import Engine

        eng = Engine(spark)
        got = eng.sql_script(
            """
            CREATE TABLE scr_t (k: Integer, s: Text);
            INSERT INTO scr_t VALUES (1, 'a;b'), (2, 'c');
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(s) AS first_s FROM scr_t;
            """
        ).collect()[0]
        # the ';' inside the string literal did NOT split the INSERT
        assert got.n == 2 and got.first_s == "a;b"
        eng.sql("DROP TABLE scr_t")

    def test_script_error_aborts_remainder(self, spark):
        import pytest as _pytest

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError

        eng = Engine(spark)
        with _pytest.raises(AdtError):
            eng.sql_script(
                "CREATE TABLE scr_u (k: Integer); "
                "INSERT INTO nope_scr VALUES (1); "
                "DROP TABLE scr_u"
            )
        # first statement ran, third never did
        assert eng.sql("SELECT COUNT(*) AS n FROM scr_u").collect()[0].n == 0
        eng.sql("DROP TABLE scr_u")


class TestAttachTable:
    """ATTACH TABLE … FROM delta|iceberg LOCATION '…': the
    lakehouse layer becomes a queryable SQL table, with VERSION as
    REPL-level time travel; the file list resolves at ATTACH time and
    the data stays a lazy pruned parquet scan."""

    def test_version_as_of_read_sugar(self, spark, tables, tmp_path):
        """`SELECT … FROM t VERSION AS OF v` / `FOR TIMESTAMP AS OF`
        time-travels a single READ on an attached table — no re-ATTACH
        dance — and composes with joins and qualified references. A
        version below retention and a timestamp before the first
        commit refuse loudly."""
        import os as _os

        import pytest as _pytest

        import json as _json

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = DeltaTableWriter(str(tmp_path / "t"))
        r = tables["region"]
        t.append(r.limit(2))
        t.append(r.limit(5))
        t.append(r.limit(1))
        # pin deterministic commit clocks (the commitInfo timestamps)
        # for the timestamp resolution
        base = 1_600_000_000  # epoch seconds
        for v in range(3):
            cf = _os.path.join(t.log_dir, f"{v:020d}.json")
            with open(cf) as f:
                actions = [_json.loads(line) for line in f if line.strip()]
            for a in actions:
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = (base + 100 * v) * 1000
            with open(cf, "w") as f:
                f.write("\n".join(_json.dumps(a) for a in actions) + "\n")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE reg FROM delta LOCATION '{t.path}'")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM reg VERSION AS OF 0"
        ).collect()[0]["n"] == 2
        # the attachment itself stays at latest
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == 8
        # qualified references keep resolving (view substitutes AS reg),
        # and the pinned read joins with ordinary tables
        eng.create_table("nation", tables["nation"])
        got = eng.sql(
            "SELECT COUNT(*) AS n FROM reg VERSION AS OF 1 "
            "JOIN nation ON reg.r_regionkey = nation.n_regionkey"
        ).collect()[0]["n"]
        assert got > 0
        # timestamp between commit 1 and commit 2 resolves to version 1
        from datetime import datetime, timezone

        mid = datetime.fromtimestamp(base + 150, tz=timezone.utc)
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM reg FOR TIMESTAMP AS OF "
            f"'{mid.isoformat()}'"
        ).collect()[0]["n"] == 7
        # before the first commit: loud refusal
        early = datetime.fromtimestamp(base - 5, tz=timezone.utc)
        with _pytest.raises(AdtError, match="no surviving"):
            eng.sql(
                "SELECT * FROM reg FOR TIMESTAMP AS OF "
                f"'{early.isoformat()}'"
            )
        # a non-attached table has no commit log to travel
        with _pytest.raises(AdtError, match="not an ATTACHed"):
            eng.sql("SELECT * FROM nation VERSION AS OF 1")
        # below vacuum retention the reader's own refusal surfaces
        t.optimize(spark)
        t.vacuum(retain_versions=1)
        with _pytest.raises(AdtError, match="time travel"):
            eng.sql("SELECT COUNT(*) AS n FROM reg VERSION AS OF 0").collect()

    def test_restore_table_statement(self, spark, tables, tmp_path):
        """`RESTORE TABLE n TO VERSION AS OF v` — the write-side twin
        of the AS-OF read sugar: one new commit rolls the attachment
        back, the view re-registers, history survives; non-attached
        and VERSION-pinned targets refuse."""
        import pytest as _pytest

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = DeltaTableWriter(str(tmp_path / "t"))
        t.append(tables["region"].limit(2))
        t.append(tables["region"].limit(5))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE reg FROM delta LOCATION '{t.path}'")
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == 7
        eng.sql("RESTORE TABLE reg TO VERSION AS OF 0")
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == 2
        # history preserved: the pre-restore state reads with AS OF
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM reg VERSION AS OF 1"
        ).collect()[0]["n"] == 7
        # non-attached tables refuse
        eng.create_table("nation", tables["nation"])
        with _pytest.raises(AdtError, match="not an ATTACHed"):
            eng.sql("RESTORE TABLE nation TO VERSION AS OF 0")
        # a VERSION-pinned attachment is an immutable snapshot
        eng.sql(
            f"ATTACH TABLE reg0 FROM delta LOCATION '{t.path}' VERSION 0"
        )
        with _pytest.raises(AdtError, match="pinned"):
            eng.sql("RESTORE TABLE reg0 TO VERSION AS OF 0")

    def test_set_and_show_table_properties(self, spark, tables, tmp_path):
        """ALTER TABLE … SET PROPERTIES / SHOW TBLPROPERTIES — the
        formats' own knob surface from SQL: flipping iceberg's
        write.delete.mode makes the next DELETE merge-on-read, delta's
        enableDeletionVectors routes through the protocol upgrade,
        and capability keys this writer cannot uphold refuse."""
        import pytest as _pytest

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.iceberg import IcebergTable
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        eng = Engine(spark)
        iw = IcebergTableWriter(str(tmp_path / "i"))
        iw.append(tables["region"].limit(3).coalesce(1))
        eng.sql(f"ATTACH TABLE ic FROM iceberg LOCATION '{iw.path}'")
        eng.sql(
            "ALTER TABLE ic SET PROPERTIES "
            "('write.delete.mode' = 'merge-on-read', 'owner' = 'me')"
        )
        got = {r["key"]: r["value"] for r in eng.sql(
            "SHOW TBLPROPERTIES ic").collect()}
        assert got == {"write.delete.mode": "merge-on-read",
                       "owner": "me"}
        eng.sql("DELETE FROM ic WHERE r_regionkey = 0")
        _d, pos, _e, _dv = IcebergTable(iw.path)._files(None)
        assert len(pos) == 1  # auto → MoR via the property
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ic").collect()[0]["n"] == 2
        # '' deletes a key
        eng.sql("ALTER TABLE ic SET PROPERTIES ('owner' = '')")
        assert "owner" not in {
            r["key"] for r in eng.sql("SHOW TBLPROPERTIES ic").collect()
        }
        # delta: enableDeletionVectors routes to the protocol upgrade
        dw = DeltaTableWriter(str(tmp_path / "d"))
        dw.append(tables["region"].limit(3).coalesce(1))
        eng.sql(f"ATTACH TABLE dl FROM delta LOCATION '{dw.path}'")
        eng.sql(
            "ALTER TABLE dl SET PROPERTIES "
            "('delta.enableDeletionVectors' = 'true')"
        )
        proto, _m = dw.reader()._protocol_meta()
        assert "deletionVectors" in proto["writerFeatures"]
        # enableChangeDataFeed is HONORED since round 13 — the route
        # commits the flag atomically with the changeDataFeed feature
        eng.sql(
            "ALTER TABLE dl SET PROPERTIES "
            "('delta.enableChangeDataFeed' = 'true')"
        )
        proto_cdf, meta_cdf = dw.reader()._protocol_meta()
        assert "changeDataFeed" in proto_cdf["writerFeatures"]
        assert meta_cdf["configuration"][
            "delta.enableChangeDataFeed"] == "true"
        # a capability key this writer would not uphold still refuses
        with _pytest.raises(AdtError, match="capability"):
            eng.sql(
                "ALTER TABLE dl SET PROPERTIES "
                "('delta.enableRowTracking' = 'true')"
            )
        # …and a refused statement must not HALF-apply: a bad key next
        # to enableDeletionVectors commits NOTHING (the DV protocol
        # upgrade is irreversible — validate all keys first)
        dw2 = DeltaTableWriter(str(tmp_path / "d2"))
        dw2.append(tables["region"].limit(2).coalesce(1))
        eng.sql(f"ATTACH TABLE dl2 FROM delta LOCATION '{dw2.path}'")
        with _pytest.raises(AdtError, match="capability"):
            eng.sql(
                "ALTER TABLE dl2 SET PROPERTIES "
                "('delta.enableDeletionVectors' = 'true', "
                "'delta.enableRowTracking' = 'true')"
            )
        proto2, _m2 = dw2.reader()._protocol_meta()
        assert "deletionVectors" not in (
            proto2.get("writerFeatures") or []
        )
        # malformed pairs refuse instead of silently dropping
        with _pytest.raises(AdtError, match="could not parse"):
            eng.sql(
                "ALTER TABLE dl2 SET PROPERTIES "
                "('delta.appendOnly' = 'true', owner = 'me')"
            )
        # appendOnly IS honored: set it, mutation refuses
        eng.sql(
            "ALTER TABLE dl SET PROPERTIES ('delta.appendOnly' = 'true')"
        )
        with _pytest.raises(AdtError, match="append-only"):
            eng.sql("DELETE FROM dl WHERE r_regionkey = 0")

    def test_restore_to_an_empty_version(self, spark, tables, tmp_path):
        """RESTORE to a version whose live set is EMPTY (everything
        was deleted there) is legal state: the view re-registers as an
        empty frame under the pinned schema — not a post-commit crash
        leaving a stale view."""
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = DeltaTableWriter(str(tmp_path / "t"))
        t.append(tables["region"].limit(2))     # v0
        t.delete(spark, "TRUE")                 # v1: empty live set
        t.append(tables["region"].limit(5))     # v2
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE reg FROM delta LOCATION '{t.path}'")
        eng.sql("RESTORE TABLE reg TO VERSION AS OF 1")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM reg"
        ).collect()[0]["n"] == 0
        # schema intact on the empty view; and restoring forward works
        assert "r_name" in eng.sql("SELECT * FROM reg").columns
        eng.sql("RESTORE TABLE reg TO VERSION AS OF 2")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM reg"
        ).collect()[0]["n"] == 5

    def test_restore_statement_on_delta_and_iceberg(
        self, spark, tables, tmp_path
    ):
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        eng = Engine(spark)
        d = DeltaTableWriter(str(tmp_path / "d"))
        d.append(tables["region"].limit(2))
        d.append(tables["region"].limit(5))
        eng.sql(f"ATTACH TABLE dl FROM delta LOCATION '{d.path}'")
        eng.sql("RESTORE TABLE dl TO VERSION AS OF 0")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM dl"
        ).collect()[0]["n"] == 2
        iw = IcebergTableWriter(str(tmp_path / "i"))
        s1 = iw.append(tables["region"].limit(2))
        iw.append(tables["region"].limit(5))
        eng.sql(f"ATTACH TABLE ic FROM iceberg LOCATION '{iw.path}'")
        eng.sql(f"RESTORE TABLE ic TO VERSION AS OF {s1}")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ic"
        ).collect()[0]["n"] == 2

    def test_as_of_text_inside_string_literals_is_data(
        self, spark, tables, tmp_path
    ):
        """AS-OF syntax INSIDE a quoted literal is data, not a travel
        clause: it must neither error ('rollback' is no attached
        table) nor be rewritten — while a REAL travel clause in the
        same statement still lowers (string-masked matching)."""
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        eng = Engine(spark)
        # no attachment at all: the literal alone must pass through
        row = eng.sql(
            "SELECT 'rollback VERSION AS OF 3' AS note"
        ).collect()[0]
        assert row["note"] == "rollback VERSION AS OF 3"
        eng.sql(
            "SELECT 'x FOR TIMESTAMP AS OF ''2024-01-01''' AS note"
        ).collect()
        # literal + real clause in ONE statement: only the clause lowers
        t = DeltaTableWriter(str(tmp_path / "t"))
        t.append(tables["region"].limit(2))
        t.append(tables["region"].limit(5))
        eng.sql(f"ATTACH TABLE reg FROM delta LOCATION '{t.path}'")
        got = eng.sql(
            "SELECT 'reg VERSION AS OF 1' AS note, COUNT(*) AS n "
            "FROM reg VERSION AS OF 0 GROUP BY note"
        ).collect()[0]
        assert (got["note"], got["n"]) == ("reg VERSION AS OF 1", 2)

    def test_version_as_of_on_delta_attachment(self, spark, tables, tmp_path):
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.delta_writer import DeltaTableWriter

        root = str(tmp_path / "d")
        w = DeltaTableWriter(root)
        w.append(tables["region"].limit(2))
        w.append(tables["region"].limit(3))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE dl FROM delta LOCATION '{root}'")
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM dl VERSION AS OF 0"
        ).collect()[0]["n"] == 2
        # delta timestamps come from commitInfo — travel to commit 0
        import json as _json
        import os as _os
        from datetime import datetime, timezone

        with open(_os.path.join(
            root, "_delta_log", f"{0:020d}.json"
        )) as f:
            info = next(
                a["commitInfo"] for a in map(_json.loads, f)
                if "commitInfo" in a
            )
        at0 = datetime.fromtimestamp(
            info["timestamp"] / 1000, tz=timezone.utc
        )
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM dl FOR TIMESTAMP AS OF "
            f"'{at0.isoformat()}'"
        ).collect()[0]["n"] == 2

    def test_attach_with_version_time_travel(
        self, spark, tables, tmp_path
    ):
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = DeltaTableWriter(str(tmp_path / "t"))
        r = tables["region"]
        t.append(r.limit(2))
        t.append(r.limit(5))
        eng = Engine(spark)
        n = eng.sql(
            f"ATTACH TABLE reg FROM delta LOCATION '{t.path}'"
        ).count()
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == 7
        assert n == 7
        eng.sql(
            f"ATTACH TABLE reg0 FROM delta LOCATION '{t.path}' VERSION 0"
        )
        assert (
            eng.sql("SELECT COUNT(*) AS n FROM reg0").collect()[0]["n"] == 2
        )
        # attached tables join with ordinary ones in plain SQL
        eng.create_table("nat", tables["nation"])
        got = eng.sql(
            "SELECT COUNT(*) AS n FROM nat JOIN reg0 "
            "ON nat.n_regionkey = reg0.r_regionkey"
        ).collect()[0]["n"]
        want = (
            tables["nation"]
            .join(r.limit(2), tables["nation"].n_regionkey == r.r_regionkey)
            .count()
        )
        assert got == want

    def test_attach_delta(self, spark, tables, tmp_path):
        import glob
        import json
        import os
        import shutil

        from algebraicdb_spark.engine import Engine

        root = str(tmp_path / "d")
        os.makedirs(os.path.join(root, "_delta_log"))
        r = tables["region"]
        tmp = os.path.join(root, "_stage")
        r.limit(3).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(root, "f1.parquet"))
        shutil.rmtree(tmp)
        with open(
            os.path.join(root, "_delta_log", f"{0:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"add": {
                "path": "f1.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True,
            }}) + "\n")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE dt FROM delta LOCATION '{root}'")
        assert eng.sql("SELECT COUNT(*) AS n FROM dt").collect()[0]["n"] == 3

    def test_txnlog_format_is_retired(self, spark, tables, tmp_path):
        """ATTACH / CREATE TABLE … FROM txnlog refuse with an AdtError
        pointing at delta: the private log format is retired, and the
        Delta reader cannot read a ``_log`` directory. CTAS refuses
        before running its query or touching the location."""
        import os as _os

        import pytest as _pytest

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError

        eng = Engine(spark)
        eng.create_table("reg_src", tables["region"])
        with _pytest.raises(AdtError, match="FROM delta"):
            eng.sql(
                f"ATTACH TABLE tl FROM txnlog LOCATION '{tmp_path / 'a'}'"
            )
        with _pytest.raises(AdtError, match="FROM delta"):
            eng.sql(
                f"CREATE TABLE ctl FROM txnlog LOCATION '{tmp_path / 'c'}' "
                "AS SELECT r_regionkey, r_name FROM reg_src"
            )
        assert not _os.path.exists(tmp_path / "c")
        assert "tl" not in eng._attached and "ctl" not in eng._attached

    def test_maintenance_statements_on_attached_delta(
        self, spark, tables, tmp_path
    ):
        """OPTIMIZE TABLE / VACUUM / REFRESH TABLE from the dialect:
        the full maintenance loop without leaving SQL; maintenance of
        a name that was never attached refuses loudly."""
        import pytest as _pytest

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = DeltaTableWriter(str(tmp_path / "m"))
        r = tables["region"]
        for _ in range(3):
            t.append(r.coalesce(1))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE reg FROM delta LOCATION '{t.path}'")
        n = 3 * r.count()
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == n
        eng.sql("OPTIMIZE TABLE reg ZORDER BY (r_regionkey)")
        assert len(t.live_paths()) < 3  # compacted into the target file
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == n
        # new commits appear after REFRESH, not before
        t.append(r.limit(1))
        assert eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == n
        eng.sql("REFRESH TABLE reg")
        assert (
            eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == n + 1
        )
        # vacuum reclaims the pre-compaction layout, content unchanged
        eng.sql("VACUUM reg RETAIN 1")
        eng.sql("REFRESH TABLE reg")
        assert (
            eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"] == n + 1
        )
        # maintenance of something never attached refuses
        with _pytest.raises(AdtError, match="not an ATTACHed"):
            eng.sql("OPTIMIZE TABLE nope")
        # maintenance graduated format by format (delta in round 10,
        # iceberg OPTIMIZE/VACUUM and finally iceberg ZORDER in round
        # 11 once the writer emits manifest bounds — the full matrix
        # is pinned in test_delta_writer / test_iceberg)

    def test_attachments_survive_catalog_roundtrip(
        self, spark, tables, tmp_path
    ):
        """save_catalog persists attachments (fmt/path/VERSION pin);
        load_catalog re-ATTACHes them FIRST so they come back as live
        data, not empty schema shells — and a missing path refuses
        loudly instead of silently restoring an empty table."""
        import pytest as _pytest

        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.functions.adt import AdtError
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = DeltaTableWriter(str(tmp_path / "ct"))
        r = tables["region"]
        t.append(r.limit(2))
        t.append(r.limit(5))
        a = Engine(spark)
        a.sql(f"ATTACH TABLE creg FROM delta LOCATION '{t.path}' VERSION 0")
        p = str(tmp_path / "catalog.json")
        a.save_catalog(p)
        spark.catalog.dropTempView("creg")
        b = Engine(spark)
        b.load_catalog(p)
        # live data at the PINNED version, not an empty shell
        assert b.sql("SELECT COUNT(*) AS n FROM creg").collect()[0]["n"] == 2
        spark.catalog.dropTempView("creg")
        # a vanished table path fails the restore loudly
        import json as _json

        doc = _json.load(open(p))
        doc["attached"]["creg"]["path"] = str(tmp_path / "gone")
        _json.dump(doc, open(p, "w"))
        with _pytest.raises(AdtError, match="re-ATTACH"):
            Engine(spark).load_catalog(p)
        # DROP TABLE forgets the attachment: it must NOT resurrect
        # through a later save/load
        c = Engine(spark)
        c.sql(f"ATTACH TABLE creg2 FROM delta LOCATION '{t.path}'")
        c.sql("DROP TABLE creg2")
        p2 = str(tmp_path / "catalog2.json")
        c.save_catalog(p2)
        Engine(spark).load_catalog(p2)
        assert "creg2" not in {
            tb.name for tb in spark.catalog.listTables()
        }


class TestCtasLakehouse:
    """CREATE TABLE … FROM fmt LOCATION … AS SELECT — CTAS straight
    into a REAL lakehouse table (committed via the format writer, then
    attached), transactional from commit zero."""

    def test_ctas_all_three_formats(self, spark, tables, tmp_path):
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.iceberg import IcebergTable
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        eng = Engine(spark)
        eng.create_table("reg_src", tables["region"])
        # delta: the result is a standard table other engines read
        droot = str(tmp_path / "d")
        eng.sql(
            f"CREATE TABLE cd FROM delta LOCATION '{droot}' AS "
            "SELECT r_regionkey, r_name FROM reg_src"
        )
        assert eng.sql("SELECT COUNT(*) AS n FROM cd").collect()[0]["n"] == 5
        assert DeltaLogTable(droot).snapshot(spark).count() == 5
        # transactional from commit zero: COW DELETE + time travel
        eng.sql("DELETE FROM cd WHERE r_regionkey = 0")
        assert eng.sql("SELECT COUNT(*) AS n FROM cd").collect()[0]["n"] == 4
        assert DeltaLogTable(droot).snapshot(spark, as_of=0).count() == 5
        # creating over an existing table refuses
        import pytest as _pytest

        from algebraicdb_spark.functions.adt import AdtError

        with _pytest.raises(AdtError, match="already holds"):
            eng.sql(
                f"CREATE TABLE cd2 FROM delta LOCATION '{droot}' AS "
                "SELECT * FROM reg_src"
            )
        # delta, hive-partitioned from the start
        troot = str(tmp_path / "t")
        eng.sql(
            f"CREATE TABLE ctl FROM delta LOCATION '{troot}' "
            "PARTITION BY (r_regionkey) AS "
            "SELECT r_regionkey, r_name FROM reg_src"
        )
        tl = DeltaLogTable(troot)
        assert tl.snapshot(spark).count() == 5
        # the partition SPEC committed with the CTAS — values live in
        # the log's add actions, pruning works from commit zero
        _proto, tmeta = tl._protocol_meta()
        assert tmeta["partitionColumns"] == ["r_regionkey"]
        assert len(tl.live_paths(skip=[("r_regionkey", 2, 2)])) < len(
            tl.live_paths()
        )
        # iceberg: flat CTAS works; PARTITION BY defines an identity
        # spec (graduated with partitioned appends — the values land
        # in the manifest entries, test_iceberg pins the format)
        iroot = str(tmp_path / "i")
        eng.sql(
            f"CREATE TABLE cic FROM iceberg LOCATION '{iroot}' AS "
            "SELECT r_regionkey, r_name FROM reg_src"
        )
        assert IcebergTable(iroot).snapshot(spark).count() == 5
        iroot2 = str(tmp_path / "i2")
        eng.sql(
            f"CREATE TABLE cip FROM iceberg LOCATION '{iroot2}' "
            "PARTITION BY (r_name) AS "
            "SELECT r_regionkey, r_name FROM reg_src"
        )
        t2 = IcebergTable(iroot2)
        assert t2.snapshot(spark).count() == 5
        assert t2.meta["partition-specs"][0]["fields"][0]["name"] == "r_name"
        # an unsupported partition value type refuses loudly
        with _pytest.raises(AdtError, match="serialize"):
            eng.sql(
                f"CREATE TABLE cif FROM iceberg LOCATION "
                f"'{tmp_path / 'i3'}' PARTITION BY (rk_d) AS "
                "SELECT r_name, CAST(r_regionkey AS DOUBLE) AS rk_d "
                "FROM reg_src"
            )
