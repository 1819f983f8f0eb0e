"""The commit primitive both lakehouse writers share (``txnlog``):
``publish_exclusive`` writes the next version file create-exclusively,
and ``retry_commit`` reruns a lost attempt at most ``COMMIT_RETRIES``
times. Small enough for the default tier, so a writer regression on the
retry or cleanup path fails here without the ``interop`` suite."""

import os

import pytest

from algebraicdb_spark.operators import delta_writer, iceberg_writer, txnlog
from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
from algebraicdb_spark.operators.iceberg import AvroFileReader
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter
from algebraicdb_spark.operators.txnlog import ConcurrentWriteError

SCHEMA = "k long, v string"


def _files(root: str) -> set[str]:
    return {
        os.path.join(d, f) for d, _dirs, fs in os.walk(root) for f in fs
    }


def _commits(w) -> int:
    if isinstance(w, DeltaTableWriter):
        return w.latest_version() + 1
    return len(w._metadata_versions())


def _orphans(w) -> set[str]:
    """Files on disk that no committed version references."""
    on_disk = _files(w.path)
    if isinstance(w, DeltaTableWriter):
        data = {p for p in on_disk if p.endswith(".parquet")}
        return data - {os.path.join(w.path, p) for p in w.live_paths()}
    rdr = w.reader()
    referenced = set(w.live_paths())
    for s in w._current()[1]["snapshots"]:
        ml = rdr._resolve(s["manifest-list"])
        referenced.add(ml)
        referenced |= {
            rdr._resolve(r["manifest_path"])
            for r in AvroFileReader(ml).records
        }
    staged = {p for p in on_disk if p.endswith((".parquet", ".avro"))}
    return staged - referenced


@pytest.fixture(params=["delta", "iceberg"])
def table(request, spark, tmp_path):
    cls = {"delta": DeltaTableWriter, "iceberg": IcebergTableWriter}
    w = cls[request.param](str(tmp_path / request.param))
    w.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    mod = delta_writer if request.param == "delta" else iceberg_writer
    return w, mod


def test_every_publish_lost_raises_after_commit_retries(
    spark, table, monkeypatch
):
    w, mod = table
    before_live, before_files = sorted(w.live_paths()), _files(w.path)
    attempts = []

    def lose(target, text):
        attempts.append(target)
        raise txnlog._LostPublishRace(f"{target} taken")

    monkeypatch.setattr(mod, "publish_exclusive", lose)
    lost = f"lost {txnlog.COMMIT_RETRIES} publish races"
    with pytest.raises(ConcurrentWriteError, match=lost):
        w.append(spark.createDataFrame([(3, "c")], SCHEMA))
    assert len(attempts) == txnlog.COMMIT_RETRIES
    assert sorted(w.live_paths()) == before_live
    assert _files(w.path) == before_files  # no staged parquet or avro


def test_first_publish_lost_second_wins(spark, table, monkeypatch):
    w, mod = table
    commits = _commits(w)
    attempts = []

    def lose_once(target, text):
        attempts.append(target)
        if len(attempts) == 1:
            raise txnlog._LostPublishRace(f"{target} taken")
        txnlog.publish_exclusive(target, text)

    monkeypatch.setattr(mod, "publish_exclusive", lose_once)
    w.append(spark.createDataFrame([(3, "c")], SCHEMA))
    assert len(attempts) == 2
    assert _commits(w) == commits + 1
    assert w.snapshot(spark).count() == 3
    assert not _orphans(w)


def test_iceberg_append_records_current_schema_id(spark, tmp_path):
    """An append's snapshot names the table's CURRENT schema, not
    schema 0: a table whose current schema is 1 (same fields, as after
    a foreign client's no-op evolution) keeps recording 1."""
    w = IcebergTableWriter(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "a")], SCHEMA)
    w.append(df)
    base_v, cur = w._current()
    md = dict(cur)
    md["schemas"] = cur["schemas"] + [
        {**cur["schemas"][0], "schema-id": 1}
    ]
    md["current-schema-id"] = 1
    w._publish_metadata(md, base_v)
    w.append(df)
    _v, cur = w._current()
    assert cur["snapshots"][-1]["schema-id"] == 1
    assert w.snapshot(spark).count() == 2
