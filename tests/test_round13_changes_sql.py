"""Round 13: SQL surface for the row-level change feed.

Rounds 11-12 built ``changes_cdf`` over standard Delta and Iceberg;
dialect/server clients could UPSERT and time-travel but not
consume the feed (round-12 verdict, missing item 3). Round 13 adds
``CHANGES(t, <since> [, <to>])`` in FROM position — lowered in
``Engine._rewrite`` to the attached table's ``changes_cdf`` and
substituted as a temp view, so it composes with the whole read grammar
(projection, aggregation, joins, EXPLAIN). Bounds accept the same
VERSION/TIMESTAMP sugar as time travel."""

import time

import pytest

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.functions.adt import AdtError
from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestChangesSql:
    def test_delta_cow_changes_through_sql(self, spark, tmp_path):
        """Without the change-data-feed property the feed is derived
        from the copy-on-write commit's remove/add diff."""
        root = str(tmp_path / "t")
        t = DeltaTableWriter(root)
        t.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"))
        t.delete(spark, "k = 2")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE t FROM delta LOCATION '{root}'")
        out = eng.sql("SELECT k, _change_type, _commit_version "
                      "FROM CHANGES(t, 0)")
        assert _rows(out, "k", "_change_type", "_commit_version") == [
            (2, "delete", 1),
        ]

    def test_delta_changes_compose_with_aggregation(self, spark, tmp_path):
        root = str(tmp_path / "d")
        w = DeltaTableWriter(root)
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"))
        w.set_properties({"delta.enableChangeDataFeed": "true"})
        w.update(spark, {"v": "v + 10"}, "k IN (1, 3)")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE d FROM delta LOCATION '{root}'")
        out = eng.sql(
            "SELECT _change_type, COUNT(*) AS n "
            "FROM CHANGES(d, 1) GROUP BY _change_type ORDER BY 1"
        )
        assert _rows(out, "_change_type", "n") == [
            ("update_postimage", 2), ("update_preimage", 2),
        ]

    def test_iceberg_changes_through_sql(self, spark, tmp_path):
        root = str(tmp_path / "i")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"))
        parent = w.reader().current_snapshot_id()
        w.delete(spark, "k >= 4")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE i FROM iceberg LOCATION '{root}'")
        out = eng.sql(
            f"SELECT k, _change_type FROM CHANGES(i, {parent}) "
            "WHERE _change_type = 'delete'"
        )
        assert _rows(out, "k", "_change_type") == [
            (4, "delete"), (5, "delete"),
        ]

    def test_empty_window_is_zero_rows_not_an_error(self, spark, tmp_path):
        root = str(tmp_path / "e")
        t = DeltaTableWriter(root)
        t.append(spark.createDataFrame([(1, 1.0)], "k long, v double"))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE e FROM delta LOCATION '{root}'")
        head = t.latest_version()
        out = eng.sql(f"SELECT * FROM CHANGES(e, {head})")
        assert out.count() == 0
        assert "_change_type" in out.columns
        assert "_commit_version" in out.columns

    def test_timestamp_bound_resolves_like_time_travel(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "ts")
        t = DeltaTableWriter(root)
        t.append(spark.createDataFrame([(1, 1.0)], "k long, v double"))
        time.sleep(1.1)  # the cut below is second-grained
        import datetime

        cut = datetime.datetime.now(
            datetime.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S")
        time.sleep(1.1)
        t.append(spark.createDataFrame([(2, 2.0)], "k long, v double"))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE ts FROM delta LOCATION '{root}'")
        out = eng.sql(f"SELECT k FROM CHANGES(ts, '{cut}')")
        assert _rows(out, "k") == [(2,)]

    def test_expired_window_refuses_loudly_through_sql(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "x")
        w = DeltaTableWriter(root)
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(4)], "k long, v double"))
        w.delete(spark, "k = 1")
        w.append(spark.createDataFrame([(9, 9.0)], "k long, v double"))
        w.append(spark.createDataFrame([(10, 10.0)], "k long, v double"))
        w.vacuum(retain_versions=1)  # reclaims the deleted file's bytes
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE x FROM delta LOCATION '{root}'")
        with pytest.raises(AdtError, match="CHANGES\\(x\\)"):
            eng.sql("SELECT * FROM CHANGES(x, 0)")

    def test_unattached_name_refuses(self, spark, tables):
        eng = Engine(spark)
        with pytest.raises(AdtError, match="not an ATTACHed"):
            eng.sql("SELECT * FROM CHANGES(nosuch, 0)")

    def test_changes_text_inside_string_literal_is_data(
        self, spark, tables, tmp_path
    ):
        eng = Engine(spark)
        out = eng.sql("SELECT 'CHANGES(t, 0)' AS s")
        assert out.collect()[0]["s"] == "CHANGES(t, 0)"

    def test_joins_against_the_live_table(self, spark, tmp_path):
        """The feed is a relation: join it back to the current
        snapshot — the canonical CDC-consumer pattern."""
        root = str(tmp_path / "j")
        t = DeltaTableWriter(root)
        t.append(spark.createDataFrame(
            [(i, float(i)) for i in range(5)], "k long, v double"))
        t.update(spark, {"v": "v * 100"}, "k = 3")
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE j FROM delta LOCATION '{root}'")
        out = eng.sql(
            "SELECT c.k, c._change_type, j.v AS live_v "
            "FROM CHANGES(j, 0) c JOIN j ON c.k = j.k "
            "WHERE c._change_type = 'update_postimage'"
        )
        assert _rows(out, "k", "_change_type", "live_v") == [
            (3, "update_postimage", 300.0),
        ]
