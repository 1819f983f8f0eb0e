"""One change feed per lakehouse format, and one merge-on-read scan for
Iceberg.

- ``IncrementalAggView.refresh`` folds every window from the base's
  ``changes_cdf`` and must equal ``rebuild`` after append, copy-on-write
  DELETE and merge-on-read DELETE windows, over Delta (deletion
  vectors), Iceberg v2 (position deletes) and Iceberg v3 (deletion
  vectors).
- A min/max view refuses every window that removes rows, including an
  ``append``-labelled Iceberg snapshot that commits a delete manifest.
- Delta's feed walks only its window: a window above a cleaned JSON
  prefix is accepted, through the reader and through ``CHANGES(t, v)``;
  the state before such a window folds from the newest checkpoint at or
  below it.
- Iceberg's snapshot and the writer's live rows are the same scan: on
  one table carrying position deletes, equality deletes and a deletion
  vector they hold the same rows as a plain-Python model."""

import json
import os

import pytest

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
from algebraicdb_spark.operators.iceberg import IcebergTable, IcebergViewBase
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter
from algebraicdb_spark.operators.txnlog import (
    DeltaLogTable,
    IncrementalAggView,
)

SCHEMA = "g string, k long, v double"
BASES = ["delta-dv", "iceberg-v2", "iceberg-v3"]


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [("ab"[k % 2], k, k * 1.5) for k in range(lo, hi)], SCHEMA
    ).coalesce(1)


def _base(spark, root, kind):
    """A writer with two appended files, and the view base over it."""
    fmt = kind.split("-")[0]
    w = (DeltaTableWriter if fmt == "delta" else IcebergTableWriter)(root)
    w.append(_batch(spark, 0, 6))
    w.append(_batch(spark, 6, 12))
    if kind == "iceberg-v3":
        w.upgrade_format_version(3)
    return w, (DeltaLogTable(root) if fmt == "delta"
               else IcebergViewBase(root))


def _state(spark, view):
    return sorted(tuple(r) for r in view.read(spark).collect())


@pytest.mark.parametrize("kind", BASES)
def test_refresh_equals_rebuild_across_every_window(spark, tmp_path, kind):
    w, base = _base(spark, str(tmp_path / "t"), kind)
    inc = IncrementalAggView(base, str(tmp_path / "inc"), ["g"], ["v"])
    full = IncrementalAggView(base, str(tmp_path / "full"), ["g"], ["v"])
    ext = IncrementalAggView(
        base, str(tmp_path / "ext"), ["g"], min_cols=["v"], max_cols=["v"]
    )

    def window(removes_rows):
        assert inc.refresh(spark) == base.latest_version()
        full.rebuild(spark)
        assert _state(spark, inc) == _state(spark, full)
        if removes_rows:
            with pytest.raises(ValueError, match="min/max"):
                ext.refresh(spark)
            ext.rebuild(spark)
        else:
            assert ext.refresh(spark) == base.latest_version()

    window(False)  # bootstrap: the two appends
    w.append(_batch(spark, 12, 15))
    window(False)
    if kind != "iceberg-v3":  # v3 rewrites would drop row lineage
        w.delete(spark, "k = 3", mode="cow")
        window(True)
    if kind == "delta-dv":
        w.enable_deletion_vectors()
    w.delete(spark, "k IN (7, 13)", mode="mor")
    window(True)


def test_min_max_view_refuses_an_append_labelled_delete_manifest(
    spark, tmp_path
):
    """A snapshot's summary operation does not decide what it commits:
    relabel a merge-on-read DELETE snapshot ``append`` and the probe
    must still see its delete manifest."""
    root = str(tmp_path / "t")
    w, base = _base(spark, root, "iceberg-v2")
    view = IncrementalAggView(base, str(tmp_path / "ext"), ["g"],
                              max_cols=["v"])
    assert view.refresh(spark) == 2
    w.delete(spark, "k = 4", mode="mor")
    meta = os.path.join(root, "metadata")
    head = max(
        (f for f in os.listdir(meta) if f.endswith(".metadata.json")),
        key=lambda f: int(f[1:].split(".")[0]),
    )
    with open(os.path.join(meta, head)) as f:
        md = json.load(f)
    cur = next(s for s in md["snapshots"]
               if s["snapshot-id"] == md["current-snapshot-id"])
    cur["summary"]["operation"] = "append"
    with open(os.path.join(meta, head), "w") as f:
        json.dump(md, f)
    assert base._window_has_dc_removes(2, 3)
    with pytest.raises(ValueError, match="min/max"):
        view.refresh(spark)


def _cleaned_prefix_table(spark, root):
    """Six appends of three rows (v0 … v5), checkpoints at v2 and v4,
    and the JSON commits below the first checkpoint deleted."""
    w = DeltaTableWriter(root)
    for lo in range(0, 18, 3):
        w.append(_batch(spark, lo, lo + 3))
        if lo in (6, 12):
            w.write_checkpoint()
    log = os.path.join(root, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    return w


def test_delta_feed_accepts_a_window_above_a_cleaned_prefix(
    spark, tmp_path
):
    """Checkpoints at v2 and v4, the JSON commits below the first one
    deleted: the window (3, 5] has every commit it needs."""
    root = str(tmp_path / "d")
    _cleaned_prefix_table(spark, root)
    feed = DeltaLogTable(root).changes_cdf(spark, since=3)
    assert sorted((r["k"], r["_change_type"], r["_commit_version"])
                  for r in feed.collect()) == [
        (k, "insert", 4 + k // 15) for k in range(12, 18)
    ]
    eng = Engine(spark)
    eng.sql(f"ATTACH TABLE d FROM delta LOCATION '{root}'")
    assert eng.sql("SELECT COUNT(*) AS n FROM CHANGES(d, 3)").first()[0] == 6
    # the window's own commits are still required
    with pytest.raises(ValueError, match="missing JSON commits"):
        DeltaLogTable(root).changes_cdf(spark, since=0)


def test_delta_pre_window_state_folds_from_an_older_checkpoint(
    spark, tmp_path
):
    """A copy-on-write DELETE of a v0 row, after the cleaned-prefix
    table above: the window (3, 6] removes a file it did not add, so
    its pre-window state at v3 is folded. ``_last_checkpoint`` names
    v4 and the JSON below v2 is gone; the fold starts from the v2
    checkpoint. Time travel to v3 reads through the same fold."""
    root = str(tmp_path / "d")
    w = _cleaned_prefix_table(spark, root)
    w.delete(spark, "k = 0", mode="cow")  # v6
    rdr = DeltaLogTable(root)
    feed = rdr.changes_cdf(spark, since=3)
    assert sorted((r["k"], r["_change_type"], r["_commit_version"])
                  for r in feed.collect()) == [(0, "delete", 6)] + [
        (k, "insert", 4 + k // 15) for k in range(12, 18)
    ]
    assert sorted(r["k"] for r in rdr.snapshot(spark, 3).collect()) == (
        list(range(12))
    )


def test_iceberg_snapshot_equals_the_writers_live_rows(spark, tmp_path):
    """Position deletes, equality deletes and a deletion vector on one
    table: the reader's snapshot and the writer's live rows (its
    mutation scan, identity columns dropped) match a Python model."""
    root = str(tmp_path / "t")
    w, _ = _base(spark, root, "iceberg-v2")
    model = {k: ("ab"[k % 2], k * 1.5) for k in range(12)}
    w.delete(spark, "k IN (1, 8)", mode="mor")  # position deletes
    for k in (1, 8):
        del model[k]
    w.upsert_by_key(spark, spark.createDataFrame(
        [("c", 2, 99.0), ("c", 20, 20.0)], SCHEMA), ["k"])  # equality
    model.update({2: ("c", 99.0), 20: ("c", 20.0)})
    w.upgrade_format_version(3)
    w.delete(spark, "k IN (5, 6)")  # a deletion vector
    for k in (5, 6):
        del model[k]
    want = sorted((g, k, v) for k, (g, v) in model.items())
    rdr = IcebergTable(root)
    _data, pos_d, eq_d, dvs = rdr._files(None)
    assert pos_d and eq_d and dvs
    snap = sorted(tuple(r) for r in rdr.snapshot(spark).collect())
    live = w._target(spark, "dv", *w._current(), rdr).scan(probe=True) \
        .select("g", "k", "v")
    assert snap == want
    assert sorted(tuple(r) for r in live.collect()) == want
