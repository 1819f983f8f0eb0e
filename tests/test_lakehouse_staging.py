"""Both lakehouse writers stage data files through one step
(``txnlog.stage``) and both readers share one empty-table rule.

- A staged file is written, its footer read once, and a file with no
  rows never lands: an empty batch commits no data file, and a MERGE
  whose NOT MATCHED branch inserts into few partitions commits no
  zero-row file (``test_mutation_planner`` checks the live sets of
  every mode).
- A snapshot with no live file is an empty frame under the table's
  recorded schema: after DELETE removed every row, re-ATTACH, REFRESH
  TABLE and VERSION AS OF the emptied version all read 0 rows.
- The footer fold keeps Delta's rule on both formats: a column with
  any row group lacking min/max gets no bound.
- Delta property commits: every capability key lands with the
  protocol features it needs in one commit, and a merge-on-read commit
  that writes no deletion vector leaves the protocol alone."""

import json
import os

import pytest

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.operators.delta_writer import (
    DeltaTableWriter,
    _stats_json,
)
from algebraicdb_spark.operators.iceberg import IcebergTable
from algebraicdb_spark.operators.iceberg_writer import (
    IcebergTableWriter,
    _bound_rows,
)
from algebraicdb_spark.operators.txnlog import (
    DeltaLogTable,
    footer_rows,
    footer_stats,
)

FORMATS = ["delta", "iceberg"]
QUERY = ("SELECT CAST(id AS BIGINT) AS k, CAST(id AS DOUBLE) / 4 AS v, "
         "CAST(id AS STRING) AS s FROM range(6)")


def _data_files(fmt: str, path: str) -> list[str]:
    """Every live data file of the table at its latest version."""
    if fmt == "delta":
        return [res for _r, res, _pv, _dv
                in DeltaLogTable(path)._live_entries_full()]
    return [p for p, _u, _s in IcebergTable(path)._files()[0]]


def _shape(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.mark.parametrize("fmt", FORMATS)
def test_a_table_with_every_row_deleted_reads_empty(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    eng = Engine(spark)
    eng.sql(f"CREATE TABLE t FROM {fmt} LOCATION '{path}' AS {QUERY}")
    shape = _shape(eng.table("t"))
    assert shape == [("k", "bigint"), ("v", "double"), ("s", "string")]
    eng.sql("DELETE FROM t WHERE k >= 0")
    assert _data_files(fmt, path) == []
    emptied = (1 if fmt == "delta"
               else IcebergTable(path).current_snapshot_id())
    reads = {
        "after delete": lambda: eng.table("t"),
        "refresh": lambda: eng.sql("REFRESH TABLE t"),
        "re-attach": lambda: eng.sql(
            f"ATTACH TABLE t FROM {fmt} LOCATION '{path}'"),
        "version as of": lambda: eng.sql(
            f"SELECT * FROM t VERSION AS OF {emptied}"),
        "attach at version": lambda: eng.sql(
            f"ATTACH TABLE t0 FROM {fmt} LOCATION '{path}' "
            f"VERSION {emptied}"),
    }
    for what, read in reads.items():
        df = read()
        assert df.count() == 0, what
        assert _shape(df) == shape, what
    assert eng.table("t").count() == 0
    # the table takes rows again
    eng.sql("INSERT INTO t VALUES (7, 1.5, 'x')")
    assert [tuple(r) for r in eng.table("t").collect()] == [(7, 1.5, "x")]


@pytest.mark.parametrize("fmt", FORMATS)
def test_an_empty_ctas_commits_no_data_file(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    eng = Engine(spark)
    eng.sql(f"CREATE TABLE e FROM {fmt} LOCATION '{path}' "
            f"AS {QUERY} WHERE false")
    assert _data_files(fmt, path) == []
    assert not [f for _d, _s, fs in os.walk(path) for f in fs
                if f.endswith(".parquet")]
    df = eng.table("e")
    assert df.count() == 0
    assert _shape(df) == [("k", "bigint"), ("v", "double"), ("s", "string")]


@pytest.mark.parametrize("fmt", FORMATS)
def test_an_empty_append_txn_still_lands_its_mark(spark, tmp_path, fmt):
    cls = DeltaTableWriter if fmt == "delta" else IcebergTableWriter
    w = cls(str(tmp_path / fmt))
    df = spark.sql(QUERY)
    w.append(df.coalesce(1))
    assert w.append_txn(df.where("false"), "app", 1) is not None
    marks = w.reader() if fmt == "delta" else w
    assert marks.last_txn_version("app") == 1
    assert len(_data_files(fmt, w.path)) == 1
    assert w.append_txn(df.where("false"), "app", 1) is None  # replay
    assert w.snapshot(spark).count() == 6
    if fmt == "iceberg":
        # an empty append adds no manifest either
        t = IcebergTable(w.path)
        assert len(t._manifests(t._snapshot(None))) == 1


def test_a_row_group_without_bounds_drops_the_column_bound(tmp_path):
    """pyarrow keeps no min/max for a value longer than its statistics
    limit, so the middle row group of this file has none: neither
    format may record ["a", "b"] as the column's bounds while the file
    holds "xxx…"."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"s": ["a", "x" * 5000, "b"],
                             "k": pa.array([1, 2, 3], pa.int64())}),
                   path, row_group_size=1)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 3
    assert not md.row_group(1).column(0).statistics.has_min_max
    rows, stats = footer_stats(path)
    assert rows == 3
    assert stats["s"][:2] == (None, None)
    assert stats["k"] == (1, 3, 0)
    doc = json.loads(_stats_json(rows, stats))
    assert "s" not in doc["minValues"] and "s" not in doc["maxValues"]
    assert (doc["minValues"]["k"], doc["maxValues"]["k"]) == (1, 3)
    lower, upper = _bound_rows(stats, [
        {"id": 1, "name": "s", "type": "string"},
        {"id": 2, "name": "k", "type": "long"},
    ])
    assert [b["key"] for b in lower] == [2]
    assert [b["key"] for b in upper] == [2]


def _protocol(path: str) -> dict:
    proto, _meta = DeltaLogTable(path)._protocol_meta()
    return proto


def test_a_merge_on_read_commit_without_vectors_keeps_the_protocol(
    spark, tmp_path
):
    w = DeltaTableWriter(str(tmp_path / "d"))
    w.append(spark.sql(QUERY).coalesce(1))
    src = spark.sql("SELECT CAST(9 AS BIGINT) AS k, 2.5 AS v, 'n' AS s")
    res = w.merge(spark, src, "t.k = s.k", {"v": "s.v"},
                  ["s.k", "s.v", "s.s"], mode="mor")
    assert (res["rows_matched"], res["rows_inserted"]) == (0, 1)
    assert res["files_dv"] == 0
    assert _protocol(w.path) == {"minReaderVersion": 1,
                                 "minWriterVersion": 2}
    # a vector does carry the upgrade
    w.delete(spark, "k = 1", mode="mor")
    assert "deletionVectors" in _protocol(w.path)["readerFeatures"]


def test_property_commits_announce_every_feature_they_need(
    spark, tmp_path
):
    w = DeltaTableWriter(str(tmp_path / "d"))
    w.append(spark.sql(QUERY).coalesce(1))
    head = w.latest_version()
    v = w.set_properties({"delta.enableDeletionVectors": "true",
                          "delta.enableChangeDataFeed": "true"})
    assert v == head + 1 == w.latest_version()
    proto = _protocol(w.path)
    # writer 2 implied appendOnly and invariants: the feature list
    # keeps them
    assert set(proto["writerFeatures"]) == {
        "appendOnly", "invariants", "changeDataFeed", "deletionVectors"}
    assert proto["readerFeatures"] == ["deletionVectors"]
    assert (proto["minReaderVersion"], proto["minWriterVersion"]) == (3, 7)
    props = w.properties()
    assert props["delta.enableDeletionVectors"] == "true"
    assert props["delta.enableChangeDataFeed"] == "true"
    # nothing left to change: no commit
    assert w.enable_deletion_vectors() is None
    assert w.enable_change_data_feed() is None
    # the appendOnly feature alone does not make the table append-only
    assert w.delete(spark, "k = 1")["rows_deleted"] == 1
    assert footer_rows(_data_files("delta", w.path)[0]) == 6
