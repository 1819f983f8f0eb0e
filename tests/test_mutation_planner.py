"""The shared row-level mutation planner (``operators.mutation``) driven
through both lakehouse writers in every write mode: the same DELETE,
UPDATE, MERGE (update + insert) and MERGE … THEN DELETE on one small
table must leave the same rows as a plain-Python model, with the
result counts each encoder reports. A publish that fails leaves the
rows and the table directory as they were, in every mode, and a
failed commit-file write leaves no torn file in the version slot. Also
the Iceberg TIMESTAMP round trip: files restaged with field ids must
keep a timestamp type Spark reads back. After every step no live data
file has zero rows."""

import datetime as dt
import os

import pytest

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.operators import delta_writer, iceberg_writer
from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
from algebraicdb_spark.operators.iceberg import IcebergTable
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter
from algebraicdb_spark.operators.txnlog import (
    DeltaLogTable,
    footer_rows,
    publish_exclusive,
)

ROWS = [(k, k * 10, "x" if k % 2 else None) for k in range(1, 13)]
MODES = ["delta-cow", "delta-mor", "iceberg-cow", "iceberg-mor",
         "iceberg-v3"]


def _writer(spark, path, mode):
    fmt, how = mode.split("-")
    w = (DeltaTableWriter if fmt == "delta" else IcebergTableWriter)(path)
    df = spark.range(1, 13).selectExpr(
        "id AS k", "id * 10 AS v", "IF(id % 2 = 1, 'x', NULL) AS tag")
    # two files, so the copy-on-write paths see both a fully and a
    # partly matched file
    w.append(df.where("k <= 6").coalesce(1))
    w.append(df.where("k > 6").coalesce(1))
    if how == "mor" and fmt == "delta":
        w.enable_deletion_vectors()
    if how == "mor" and fmt == "iceberg":
        w.set_properties({f"write.{op}.mode": "merge-on-read"
                          for op in ("delete", "update", "merge")})
    if how == "v3":
        w.upgrade_format_version(3)
    return w


def _values(spark, rows):
    return spark.sql(
        f"SELECT CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v, tag "
        f"FROM VALUES {rows} AS s(k, v, tag)"
    )


def _rows(spark, w):
    return sorted(tuple(r) for r in w.snapshot(spark).collect())


def _live_data_files(w):
    if isinstance(w, DeltaTableWriter):
        return [res for _r, res, _pv, _dv
                in DeltaLogTable(w.path)._live_entries_full()]
    return [p for p, _u, _s in IcebergTable(w.path)._files()[0]]


def _counts(res, keys):
    return {k: res[k] for k in keys if k in res}


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("mode", MODES)
def test_every_mode_applies_the_same_row_level_plan(spark, tmp_path, mode):
    w = _writer(spark, str(tmp_path / "t"), mode)
    cow = mode.endswith("cow")
    model = {k: (v, tag) for k, v, tag in ROWS}

    def check():
        assert _rows(spark, w) == sorted(
            (k, v, tag) for k, (v, tag) in model.items()
        )
        # no commit lands a zero-row data file
        assert all(footer_rows(p) for p in _live_data_files(w))

    check()

    # DELETE: k 1-6 fill the first file (fully matched), k 7-8 part of
    # the second; a NULL predicate value keeps the row
    res = w.delete(spark, "k <= 8 AND (tag = 'x' OR k <= 6)")
    gone = [k for k in model if k <= 6 or (k <= 8 and model[k][1] == "x")]
    for k in gone:
        del model[k]
    check()
    assert res["rows_deleted"] == len(gone) == 7
    if cow:
        assert _counts(res, ["files_removed", "files_rewritten"]) == {
            "files_removed": 2, "files_rewritten": 1}
    elif mode == "delta-mor":
        # file one is covered whole: a plain remove, not a vector
        assert _counts(res, ["files_removed", "files_dv"]) == {
            "files_removed": 1, "files_dv": 1}
    else:
        assert res["delete_files"] == 1

    # UPDATE: assigned value cast back to the declared type
    res = w.update(spark, {"v": "v + 0.7", "tag": "'u'"}, "k >= 11")
    for k in (11, 12):
        model[k] = (model[k][0], "u")
    check()
    assert res["rows_updated"] == 2
    if cow:
        assert res["files_rewritten"] == 1
    elif mode == "delta-mor":
        assert res["files_dv"] == 1
    else:
        assert res["delete_files"] == 1

    # MERGE: update k=9, insert k=20
    src = _values(spark, "(9, 900, 'm'), (20, 200, 'n')")
    res = w.merge(spark, src, "t.k = s.k", {"v": "s.v", "tag": "s.tag"},
                  ["s.k", "s.v", "s.tag"])
    model[9] = (900, "m")
    model[20] = (200, "n")
    check()
    assert (res["rows_matched"], res["rows_inserted"]) == (1, 1)
    if cow:
        assert res["files_rewritten"] == 1
    elif mode == "delta-mor":
        assert res["files_dv"] == 1
    else:
        assert res["delete_files"] == 1

    # a source matching one row twice is refused (the next check sees
    # the table untouched) ...
    dup = _values(spark, "(10, 1, 'a'), (10, 2, 'b')")
    with pytest.raises(ValueError, match="matched multiple source rows"):
        w.merge(spark, dup, "t.k = s.k", {"v": "s.v"}, None)

    # ... and harmless for MERGE … THEN DELETE
    res = w.merge(spark, dup.union(src.where("k = 20")), "t.k = s.k",
                  None, None, delete_matched=True)
    del model[10], model[20]
    check()
    assert (res["rows_matched"], res["rows_inserted"]) == (2, 0)


def test_iceberg_timestamp_columns_read_back(spark, tmp_path):
    """CTAS, append and a copy-on-write UPDATE over a TIMESTAMP column
    all read back through the engine."""
    eng = Engine(spark)
    loc = str(tmp_path / "ts")
    eng.sql(
        f"CREATE TABLE ts_t FROM iceberg LOCATION '{loc}' AS SELECT "
        "1 AS k, TIMESTAMP '2020-01-02 03:04:05' AS ts"
    )
    try:
        assert [tuple(r) for r in eng.sql("SELECT * FROM ts_t").collect()] \
            == [(1, dt.datetime(2020, 1, 2, 3, 4, 5))]
        w = IcebergTableWriter(loc)
        w.append(spark.sql(
            "SELECT 2 AS k, TIMESTAMP '2021-05-06 07:08:09.123456' AS ts"))
        w.update(spark, {"ts": "ts + INTERVAL 1 DAY"}, "k = 1", mode="cow")
        got = sorted(tuple(r) for r in w.snapshot(spark).collect())
        assert got == [(1, dt.datetime(2020, 1, 3, 3, 4, 5)),
                       (2, dt.datetime(2021, 5, 6, 7, 8, 9, 123456))]
    finally:
        eng.sql("DROP TABLE ts_t")


@pytest.mark.parametrize("mode", ["iceberg-mor", "iceberg-v3"])
def test_iceberg_merge_delete_reads_back_as_delete(spark, tmp_path, mode):
    """MERGE … THEN DELETE comes out of the Iceberg change feed as a
    delete in every merge-on-read encoder: the v3 deletion-vector
    snapshot records ``updated-records: 0``, which is no update."""
    from algebraicdb_spark.operators.iceberg import IcebergTable

    w = IcebergTableWriter(str(tmp_path / "t"))
    w.append(spark.range(1, 6).selectExpr("id AS k", "id * 10 AS v").coalesce(1))
    if mode == "iceberg-v3":
        w.upgrade_format_version(3)
    else:
        w.set_properties({"write.merge.mode": "merge-on-read"})
    t = IcebergTable(w.path)
    since = t._snapshot(None)["snapshot-id"]
    w.merge(spark, spark.range(2, 3).selectExpr("id AS k"), "t.k = s.k",
            None, None, delete_matched=True)
    feed = IcebergTable(w.path).changes_cdf(spark, since)
    assert [(r["k"], r["_change_type"]) for r in feed.collect()] == [(2, "delete")]


@pytest.mark.parametrize("mode", MODES)
def test_a_failed_publish_leaves_the_table_as_it_was(
    spark, tmp_path, monkeypatch, mode
):
    """An append, DELETE, UPDATE and MERGE whose publish fails raise and
    leave the rows and every file of the table directory as they were
    — staged rows, change-data files, deletion vectors, manifests.
    Rerun without the fault, each verb applies. Delta runs with its change data
    feed on and file-backed deletion vectors."""
    w = _writer(spark, str(tmp_path / "t"), mode)
    kw = {}
    if mode.startswith("delta"):
        w.set_properties({"delta.enableChangeDataFeed": "true"})
        kw = {"dv_inline_threshold": 0}
    module = delta_writer if mode.startswith("delta") else iceberg_writer
    model = {k: (v, tag) for k, v, tag in ROWS}
    src = _values(spark, "(9, 900, 'm'), (20, 200, 'n')")

    def deleted(model):
        for k in range(1, 8):
            del model[k]

    def updated(model):
        model[12] = (model[12][0], "u")

    def merged(model):
        model[9] = (900, "m")
        model[20] = (200, "n")

    verbs = [
        (lambda: w.delete(spark, "k <= 7", **kw), deleted),
        (lambda: w.update(spark, {"tag": "'u'"}, "k = 12", **kw), updated),
        (lambda: w.merge(spark, src, "t.k = s.k",
                         {"v": "s.v", "tag": "s.tag"},
                         ["s.k", "s.v", "s.tag"], **kw), merged),
    ]

    def fail(target, text):
        raise OSError("no space left on device")

    before = _files(w.path)
    with monkeypatch.context() as mp:
        mp.setattr(module, "publish_exclusive", fail)
        with pytest.raises(OSError, match="no space left"):
            w.append(_values(spark, "(30, 300, 'a')"))
        assert _files(w.path) == before
        for verb, _apply in verbs:
            with pytest.raises(OSError, match="no space left"):
                verb()
            assert _files(w.path) == before
    assert _rows(spark, w) == sorted(
        (k, v, tag) for k, (v, tag) in model.items())
    for verb, apply in verbs:
        verb()
        apply(model)
    assert _rows(spark, w) == sorted(
        (k, v, tag) for k, (v, tag) in model.items())


def test_a_failed_commit_write_leaves_no_torn_file(tmp_path):
    target = tmp_path / "00000000000000000001.json"
    with pytest.raises(UnicodeEncodeError):
        publish_exclusive(str(target), "\udc80")  # unencodable text
    assert os.listdir(tmp_path) == []


def test_a_failed_hint_swing_keeps_the_landed_commit(
    spark, tmp_path, monkeypatch
):
    """The metadata file has landed when ``version-hint.text`` is
    swung: a swing that fails must not fail the commit or unlink its
    files, and readers find the new version without the hint."""
    w = _writer(spark, str(tmp_path / "t"), "iceberg-cow")
    replace = os.replace

    def no_hint(src, dst):
        if str(dst).endswith("version-hint.text"):
            raise OSError("no space left on device")
        replace(src, dst)

    monkeypatch.setattr(iceberg_writer.os, "replace", no_hint)
    res = w.delete(spark, "k <= 6")
    monkeypatch.undo()
    assert res["rows_deleted"] == 6
    assert sorted(r["k"] for r in IcebergTable(w.path).snapshot(spark)
                  .collect()) == list(range(7, 13))
