"""Round-trip tests for the standard-format Delta writer.

The proof shape: ``DeltaTableWriter`` emits the table, and EVERY read
goes back through ``DeltaLogTable`` — the reader that was built and
validated against hand-written protocol fixtures (test_warehouse.py's
TestDeltaLogTable), never against this writer. Agreement between the
two is therefore evidence both speak the published action schema, not
that they share bugs. Structural tests additionally pin the raw JSON
a third-party client would parse (required action fields, URL-encoded
relative paths, stats strings, 20-digit names)."""

import json
import os

import pytest

# Heavyweight lakehouse interop e2e tier: excluded from the
# default pytest run (see pyproject [tool.pytest.ini_options]);
# run explicitly with `pytest -m interop`.
pytestmark = pytest.mark.interop

from algebraicdb_spark.operators.delta_writer import DeltaTableWriter
from algebraicdb_spark.operators.txnlog import (
    ConcurrentWriteError,
    DeltaLogTable,
    SchemaEvolutionError,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


class TestDeltaWriterRoundTrip:
    def test_append_overwrite_time_travel_history(self, spark, tables, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        assert w.append(r.limit(2)) == 0
        assert w.append(r.limit(3)) == 1
        # stale overwrite refused — optimistic concurrency holds
        with pytest.raises(ConcurrentWriteError, match="rebase"):
            w.overwrite(r.limit(1), expected_version=1)
        assert w.overwrite(r.limit(1), expected_version=2) == 2
        t = DeltaLogTable(root)
        assert t.latest_version() == 2
        assert t.snapshot(spark).count() == 1
        assert t.snapshot(spark, as_of=1).count() == 5
        assert t.snapshot(spark, as_of=0).count() == 2
        # history surfaces the commitInfo operations
        assert [h["operation"] for h in t.history()] == [
            "WRITE", "WRITE", "WRITE",
        ]
        # schema pinned from metaData, not footer sampling
        assert t.snapshot(spark).schema == r.schema

    def test_log_is_spec_shaped_json(self, spark, tables, tmp_path):
        """Pin the raw bytes a third-party client parses: NDJSON, one
        action per line, protocol+metaData in commit 0, adds with
        URL-encoded relative paths and footer stats."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(tables["region"])
        log = os.path.join(root, "_delta_log")
        assert sorted(os.listdir(log)) == [f"{0:020d}.json"]
        with open(os.path.join(log, f"{0:020d}.json")) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        kinds = [next(iter(a)) for a in actions]
        assert kinds[0] == "protocol" and kinds[1] == "metaData"
        proto = actions[0]["protocol"]
        assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
        meta = actions[1]["metaData"]
        assert meta["format"] == {"provider": "parquet", "options": {}}
        assert meta["partitionColumns"] == []
        # schemaString is Spark StructType JSON — parseable, field-true
        fields = [f["name"] for f in json.loads(meta["schemaString"])["fields"]]
        assert fields == tables["region"].columns
        adds = [a["add"] for a in actions if "add" in a]
        assert adds, "commit 0 carries the staged files"
        for add in adds:
            assert not add["path"].startswith("/"), "paths are root-relative"
            assert add["dataChange"] is True
            assert add["size"] > 0
            stats = json.loads(add["stats"])
            assert stats["numRecords"] > 0
            assert "r_regionkey" in stats["minValues"]
            # the physical file exists where the path says
            assert os.path.exists(os.path.join(root, add["path"]))

    def test_partitioned_write_round_trips_typed_values(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        df = _df(
            spark,
            [(1, "a", 10), (2, "b", 10), (3, "c", 20), (4, "d", None)],
            "id long, name string, bucket int",
        )
        w.append(df, partition_by=["bucket"])
        # physical layout is hive-style; the data files do NOT contain
        # the partition column (it lives in partitionValues only)
        import pyarrow.parquet as pq

        leaf_dirs = sorted(
            d for d in os.listdir(root) if d.startswith("bucket=")
        )
        assert leaf_dirs == [
            "bucket=10", "bucket=20", "bucket=__HIVE_DEFAULT_PARTITION__",
        ]
        one = os.path.join(root, "bucket=10")
        fp = os.path.join(one, sorted(os.listdir(one))[0])
        assert "bucket" not in pq.ParquetFile(fp).schema_arrow.names
        # the reader synthesizes bucket back, typed, null included
        snap = DeltaLogTable(root).snapshot(spark)
        assert dict(snap.dtypes)["bucket"] == "int"
        got = {r["id"]: r["bucket"] for r in snap.collect()}
        assert got == {1: 10, 2: 10, 3: 20, 4: None}
        # appends must keep the partition spec: an explicit DIFFERENT
        # spec refuses…
        with pytest.raises(SchemaEvolutionError, match="partition spec"):
            w.append(df, partition_by=[])
        # …while the default INHERITS it (the streaming sink never
        # states one), landing in the same layout
        w.append(_df(spark, [(5, "e", 20)], "id long, name string, bucket int"))
        snap2 = DeltaLogTable(root).snapshot(spark)
        assert snap2.count() == 5
        assert snap2.where("id = 5").collect()[0]["bucket"] == 20

    def test_schema_evolution_round_trips(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, "a")], "id long, s string"))
        wide = _df(spark, [(2, "b", 9.5)], "id long, s string, score double")
        with pytest.raises(SchemaEvolutionError, match="evolve_schema"):
            w.append(wide)
        with pytest.raises(SchemaEvolutionError, match="missing"):
            w.append(_df(spark, [(3,)], "id long"), evolve_schema=True)
        w.append(wide, evolve_schema=True)
        t = DeltaLogTable(root)
        snap = t.snapshot(spark)
        rows = {r["id"]: r for r in snap.collect()}
        assert rows[1]["score"] is None and rows[2]["score"] == 9.5
        # the evolved metaData kept the STABLE table id
        metas = []
        for v in (0, 1):
            with open(
                os.path.join(root, "_delta_log", f"{v:020d}.json")
            ) as f:
                for line in f:
                    a = json.loads(line)
                    if "metaData" in a:
                        metas.append(a["metaData"])
        assert len(metas) == 2 and metas[0]["id"] == metas[1]["id"]
        # AS OF below the evolution reads the old shape (reader pins
        # the historical metaData)
        assert "score" not in t.snapshot(spark, as_of=0).columns

    def test_checkpoint_round_trips_with_cleaned_prefix(
        self, spark, tables, tmp_path
    ):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        w.append(r.limit(2))
        w.append(r.limit(3))
        w.overwrite(r.limit(4), expected_version=2)
        assert w.write_checkpoint(clean=True) == 2
        log = os.path.join(root, "_delta_log")
        # the JSON prefix is gone — replay MUST start from the parquet
        assert not any(f.endswith(".json") and f[0].isdigit()
                       for f in os.listdir(log))
        w.append(r.limit(1))  # a live JSON tail past the checkpoint
        t = DeltaLogTable(root)
        assert t.latest_version() == 3
        assert t.snapshot(spark).count() == 5
        assert t.snapshot(spark, as_of=2).count() == 4
        # schema still pinned (it rides the checkpoint's metaData row)
        assert t.snapshot(spark).schema == r.schema
        # below the cleaned prefix there is no replay information
        with pytest.raises(ValueError, match="non-contiguous"):
            t.snapshot(spark, as_of=1)

    def test_partitioned_checkpoint_keeps_partition_values(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        df = _df(
            spark,
            [(1, 10), (2, 20), (3, 20)],
            "id long, bucket int",
        )
        w.append(df, partition_by=["bucket"])
        w.append(
            _df(spark, [(4, 30)], "id long, bucket int"),
            partition_by=["bucket"],
        )
        assert w.write_checkpoint(clean=True) == 1
        snap = DeltaLogTable(root).snapshot(spark)
        got = {r["id"]: r["bucket"] for r in snap.collect()}
        assert got == {1: 10, 2: 20, 3: 20, 4: 30}

    def test_checkpoint_is_spec_shaped(self, spark, tmp_path):
        """Pin the checkpoint parquet's PHYSICAL schema against the
        protocol's fixed shape — an external client reads it under
        that schema with no JSON fallback once the prefix is cleaned:
        add.partitionValues must be map<string,string> (never an
        inferred struct), present ({}) on unpartitioned adds, and the
        _last_checkpoint pointer carries the action count as size."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, 10)], "id long, bucket int"),
                 partition_by=["bucket"])
        w.write_checkpoint()
        cp = os.path.join(root, "_delta_log", f"{0:020d}.checkpoint.parquet")
        sch = pq.ParquetFile(cp).schema_arrow
        add_t = sch.field("add").type
        pv_t = add_t.field("partitionValues").type
        assert pa.types.is_map(pv_t), f"partitionValues is {pv_t}, not map"
        assert pv_t.key_type == pa.string() and pv_t.item_type == pa.string()
        for name in ("path", "size", "modificationTime", "dataChange",
                     "stats"):
            assert add_t.field(name) is not None
        meta_t = sch.field("metaData").type
        assert pa.types.is_map(meta_t.field("configuration").type)
        with open(os.path.join(root, "_delta_log", "_last_checkpoint")) as f:
            ptr = json.load(f)
        assert ptr["version"] == 0 and ptr["size"] == 3  # proto+meta+add
        # unpartitioned adds still carry partitionValues (required), {}
        root2 = str(tmp_path / "t2")
        w2 = DeltaTableWriter(root2)
        w2.append(_df(spark, [(1,)], "id long"))
        w2.write_checkpoint()
        cp2 = os.path.join(
            root2, "_delta_log", f"{0:020d}.checkpoint.parquet")
        add_rows = [
            r for r in pq.read_table(cp2, columns=["add"])
            .column("add").to_pylist() if r is not None
        ]
        assert add_rows and all(r["partitionValues"] == [] or
                                r["partitionValues"] == {}
                                for r in add_rows)

    def test_failed_overwrite_unstages(self, spark, tables, tmp_path):
        """A ConcurrentWriteError AFTER staging (the racer landed
        between the version check and the publish) must unstage the
        loser's files: the log never references them, and vacuum's
        log-candidates rule would otherwise leak them forever."""
        root = str(tmp_path / "t")
        a, b = DeltaTableWriter(root), DeltaTableWriter(root)
        a.append(tables["region"].limit(2))
        # simulate the race window: freeze b's view of the head at v0
        # so its entry check passes, then let a take v1 for real — b's
        # publish collides
        b.latest_version = lambda: 0
        a.overwrite(tables["region"].limit(3), expected_version=1)
        with pytest.raises(ConcurrentWriteError):
            b.overwrite(tables["region"].limit(4), expected_version=1)
        referenced = set()
        log = os.path.join(root, "_delta_log")
        for cf in sorted(os.listdir(log)):
            if cf.endswith(".json"):
                with open(os.path.join(log, cf)) as f:
                    for line in f:
                        act = json.loads(line)
                        for kind in ("add", "remove"):
                            if kind in act:
                                referenced.add(act[kind]["path"])
        on_disk = {
            os.path.relpath(os.path.join(dp, fn), root)
            for dp, _dirs, fns in os.walk(root)
            for fn in fns
            if fn.endswith(".parquet") and "_delta_log" not in dp
        }
        assert on_disk <= referenced, (
            f"orphaned staging leaked: {on_disk - referenced}"
        )

    def test_checkpoint_preserves_protocol_features(self, tmp_path, tables):
        """Checkpointing a table whose protocol carries feature lists
        (e.g. a foreign writer upgraded it to v3) must persist the FULL
        protocol action: v3 REQUIRES readerFeatures/writerFeatures, and
        feature enablement is table state later clients rely on."""
        import pyarrow.parquet as pq

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(tables["region"].limit(2))
        # a foreign writer upgrades the protocol (honored features only,
        # so our own reads keep working)
        w._publish(1, [{"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz"],
        }}])
        assert w.write_checkpoint(clean=True) == 1
        cp = os.path.join(root, "_delta_log", f"{1:020d}.checkpoint.parquet")
        protos = [
            r for r in pq.read_table(cp, columns=["protocol"])
            .column("protocol").to_pylist() if r is not None
        ]
        assert protos == [{
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz"],
        }]
        # the folded protocol (now checkpoint-sourced) carries through
        proto, _meta = DeltaLogTable(root)._protocol_meta()
        assert proto["readerFeatures"] == ["timestampNtz"]

    def test_checkpoint_carries_tombstones_for_vacuum(
        self, spark, tables, tmp_path
    ):
        """Removed-but-unexpired files must survive the prefix clean as
        checkpoint ``remove`` rows (the spec's rule), so retention-based
        VACUUM — ours or a foreign client's — can still reclaim them."""
        import pyarrow.parquet as pq

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(tables["region"].limit(3))
        old_files = set(DeltaLogTable(root).live_paths())
        w.overwrite(tables["region"].limit(1), expected_version=1)
        assert w.write_checkpoint(clean=True) == 1
        cp = os.path.join(root, "_delta_log", f"{1:020d}.checkpoint.parquet")
        removes = [
            r for r in pq.read_table(cp, columns=["remove"])
            .column("remove").to_pylist() if r is not None
        ]
        assert removes and all(
            r["deletionTimestamp"] is not None for r in removes
        ), "tombstones ride the checkpoint with their deletionTimestamp"
        # the reader's live fold is unchanged by the tombstone rows
        assert DeltaLogTable(root).snapshot(spark).count() == 1
        # vacuum past retention reclaims the pre-overwrite files even
        # though the JSON that removed them is cleaned
        doomed = set(w.vacuum(retain_versions=1))
        assert doomed == old_files
        assert not any(os.path.exists(p) for p in old_files)

    def test_row_level_cdf_over_cow_commits(self, spark, tmp_path):
        """`DeltaLogTable.changes_cdf`: the row-level feed resolves COW
        windows on the standard format — deletes emit only the deleted
        rows (carried-through rows cancel in the EXCEPT ALL), UPDATE
        commits label preimage/postimage via commitInfo.operation, and
        an IncrementalAggView folds it all O(delta) bit-equal."""
        from algebraicdb_spark.operators.txnlog import (
            DeltaLogTable,
            IncrementalAggView,
        )

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, 10.0), (2, 20.0), (3, 30.0)],
                     "k long, v double").coalesce(1))
        w.delete(spark, "k = 2")                       # v1
        w.update(spark, {"v": "v + 1"}, "k = 3")       # v2
        t = DeltaLogTable(root)
        cdf = t.changes_cdf(spark, since=0)
        got = {
            (r["k"], r["v"], r["_change_type"], r["_commit_version"])
            for r in cdf.collect()
        }
        assert got == {
            (2, 20.0, "delete", 1),
            (3, 30.0, "update_preimage", 2),
            (3, 31.0, "update_postimage", 2),
        }
        assert t.changes_cdf(spark, since=0).where(
            "_change_type = 'delete'"
        ).count() == 1
        assert t.changes_cdf(spark, since=2) is None
        # full-window inserts included
        assert t.changes_cdf(spark, since=-1).where(
            "_change_type = 'insert'").count() == 3
        # an IncrementalAggView folds the whole mutating history
        view = IncrementalAggView(
            t, str(tmp_path / "view"), group_cols=["k"], sum_cols=["v"],
        )
        assert view.refresh(spark) == 2
        want = view._partial(t.snapshot(spark))
        assert view.read(spark).exceptAll(want).count() == 0
        assert want.exceptAll(view.read(spark)).count() == 0
        # past the owner's retention: vacuum, then the window refuses
        w.vacuum(retain_versions=1)
        with pytest.raises(ValueError, match="retention"):
            t.changes_cdf(spark, since=0)

    def test_change_feed_over_own_output(self, spark, tables, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        w.append(r.limit(2))
        w.append(r.limit(3))
        t = DeltaLogTable(root)
        assert t.changes_cdf(spark, since=0).count() == 3
        w.overwrite(r.limit(1), expected_version=2)
        # the overwrite's removed rows surface as deletes; the one row
        # it writes back cancels against its old copy
        kinds = [x["_change_type"]
                 for x in t.changes_cdf(spark, since=1).collect()]
        assert kinds == ["delete"] * 4

    def test_publish_race_has_one_winner(self, spark, tables, tmp_path):
        root = str(tmp_path / "t")
        a, b = DeltaTableWriter(root), DeltaTableWriter(root)
        a.append(tables["region"].limit(2))
        # both writers rebase off v0 and race overwrite for v1
        b_snapshot = b.latest_version()
        a.overwrite(tables["region"].limit(3), expected_version=1)
        with pytest.raises(ConcurrentWriteError):
            b.overwrite(
                tables["region"].limit(4), expected_version=b_snapshot + 1
            )
        assert DeltaLogTable(root).snapshot(spark).count() == 3

    def test_append_txn_is_exactly_once(self, spark, tables, tmp_path):
        """Delta's real transaction-identifier protocol: the txn action
        rides atomically with the adds, a replayed (appId, version)
        no-ops, and the idempotence marks survive a cleaned checkpoint
        (real Delta checkpoints carry one txn row per appId)."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        assert w.append_txn(r.limit(2), "app", 0) == 0
        assert w.append_txn(r.limit(3), "app", 1) == 1
        # redelivery of batch 1: no-op, content unchanged
        assert w.append_txn(r.limit(3), "app", 1) is None
        t = DeltaLogTable(root)
        assert t.snapshot(spark).count() == 5
        assert t.last_txn_version("app") == 1
        assert t.last_txn_version("other") == -1
        # the txn action is spec-shaped in the raw JSON
        with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as f:
            txns = [json.loads(line)["txn"] for line in f
                    if '"txn"' in line]
        assert txns == [{"appId": "app", "version": 1,
                         "lastUpdated": txns[0]["lastUpdated"]}]
        # marks survive checkpoint + retention clean
        w.write_checkpoint(clean=True)
        assert DeltaLogTable(root).last_txn_version("app") == 1
        assert w.append_txn(r.limit(3), "app", 1) is None
        assert w.append_txn(r.limit(1), "app", 2) == 2
        assert DeltaLogTable(root).snapshot(spark).count() == 6

    def test_overwrite_txn_and_mark_txn(self, spark, tables, tmp_path):
        """overwrite_txn rides the txn mark in the overwrite's own
        commit (a redelivered mark no-ops, a stale base refuses);
        mark_txn advances the mark with no data change — the two
        commits an IncrementalAggView's state table is made of."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        assert w.mark_txn("view", 0) == 0  # marker-only first commit
        assert w.overwrite_txn(r.limit(2), "view", 1, expected_version=1) == 1
        assert w.overwrite_txn(
            r.limit(3), "view", 1, expected_version=2
        ) is None
        with pytest.raises(ConcurrentWriteError):
            w.overwrite_txn(r.limit(3), "view", 2, expected_version=1)
        assert w.mark_txn("view", 5) == 2
        t = DeltaLogTable(root)
        assert t.last_txn_version("view") == 5
        assert t.snapshot(spark).count() == 2
        with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        assert [a["txn"]["version"] for a in acts if "txn" in a] == [1]
        assert any("add" in a for a in acts)
        assert [h["operation"] for h in t.history()] == [
            "SET TRANSACTION", "WRITE", "SET TRANSACTION",
        ]

    def test_streaming_sink_into_standard_delta(self, spark, tables, tmp_path):
        """The exactly-once foreachBatch committer targets the
        standard-format writer unchanged (duck-typed append_txn), so a
        streaming ingest lands in a table other engines can read."""
        from algebraicdb_spark.streaming.sink import txn_committer

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        commit = txn_committer(w, "ingest", log_checkpoint_every=2)
        commit(tables["region"].limit(2), 0)
        commit(tables["region"].limit(3), 1)
        commit(tables["region"].limit(3), 1)  # redelivered batch
        t = DeltaLogTable(root)
        assert t.snapshot(spark).count() == 5
        assert t.latest_version() == 1
        # a PARTITIONED sink table: the committer states no spec, so
        # append_txn must inherit it (the round-10 review's finding —
        # without inheritance every micro-batch refused)
        root2 = str(tmp_path / "t2")
        w2 = DeltaTableWriter(root2)
        df = spark.createDataFrame(
            [(1, 10), (2, 20)], "id long, bucket int"
        )
        w2.append(df, partition_by=["bucket"])
        commit2 = txn_committer(w2, "ingest", None)
        commit2(spark.createDataFrame([(3, 20)], "id long, bucket int"), 0)
        snap = DeltaLogTable(root2).snapshot(spark)
        assert {r["id"]: r["bucket"] for r in snap.collect()} == {
            1: 10, 2: 20, 3: 20,
        }

    def test_vacuum_never_touches_staged_uncommitted_files(
        self, spark, tables, tmp_path
    ):
        """Vacuum candidates come from the LOG, never a directory
        walk: files a concurrent writer has staged but not yet
        committed must survive, or the in-flight commit would publish
        adds pointing at deleted bytes."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        w.append(r.limit(2))
        w.overwrite(r.limit(3), 1)  # v0's file is now unreachable
        # simulate a concurrent writer mid-commit: staged, unpublished
        staged = w._stage(r.limit(4))
        staged_files = [s.path for s in staged]
        assert all(os.path.exists(p) for p in staged_files)
        doomed = w.vacuum(retain_versions=1)
        assert len(doomed) == 1  # exactly the unreachable v0 file
        assert all(os.path.exists(p) for p in staged_files)
        # the in-flight writer can still publish its adds safely
        w._publish(2, w._add_actions(staged))
        assert DeltaLogTable(root).snapshot(spark).count() == 7

    def test_optimize_compacts_with_datachange_false(
        self, spark, tables, tmp_path
    ):
        """OPTIMIZE on the standard format: content-preserving
        compaction committed as dataChange:false removes+adds — the
        change feed (ours or any external CDF consumer) skips it, and
        time travel still sees the pre-compaction layout."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        w.append(r.limit(2))
        w.append(r.limit(3))
        pre = {tuple(sorted(x.asDict().items()))
               for x in DeltaLogTable(root).snapshot(spark).collect()}
        v = w.optimize(spark)
        assert v == 2
        t = DeltaLogTable(root)
        assert len(t.live_paths()) == 1
        post = {tuple(sorted(x.asDict().items()))
                for x in t.snapshot(spark).collect()}
        assert post == pre
        # invisible to the change feed (dataChange: false)
        assert t.changes_cdf(spark, since=1) is None
        # time travel to the pre-compaction layout still works
        assert t.snapshot(spark, as_of=1).count() == 5
        # idempotent below min_inputs
        assert w.optimize(spark) is None

    def test_partitioned_optimize_compacts_per_partition(
        self, spark, tmp_path
    ):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        df1 = _df(spark, [(1, 10), (2, 20)], "id long, bucket int")
        df2 = _df(spark, [(3, 10), (4, 20)], "id long, bucket int")
        w.append(df1, partition_by=["bucket"])
        w.append(df2, partition_by=["bucket"])
        assert len(DeltaLogTable(root).live_paths()) == 4
        w.optimize(spark)
        t = DeltaLogTable(root)
        assert len(t.live_paths()) == 2  # one file per partition value
        got = {x["id"]: x["bucket"] for x in t.snapshot(spark).collect()}
        assert got == {1: 10, 2: 20, 3: 10, 4: 20}

    def test_optimize_zorder_clusters_standard_delta(
        self, spark, tables, tmp_path
    ):
        """OPTIMIZE ZORDER on a written-then-read STANDARD Delta table:
        each compacted file covers a narrow min/max span of BOTH
        clustering columns (<0.45× the global span proves genuine 2-D
        clustering; the unclustered inputs each span ~1.0×), content
        is untouched, the
        commit is dataChange:false, and the per-file add stats in the
        log carry the narrow spans for any Delta engine to skip on."""
        import glob

        from pyspark.sql import functions as F

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        full = tables["lineitem"]
        cols = ["l_partkey", "l_suppkey", "l_quantity"]
        for k in range(2):
            w.append(full.filter(f"l_orderkey % 2 = {k}").select(*cols))
        rdr = DeltaLogTable(root)
        pre = rdr.snapshot(spark).groupBy(*cols).count()
        assert w.optimize(
            spark, target_files=16, zorder_by=["l_partkey", "l_suppkey"]
        ) == 2
        files = rdr.live_paths()
        assert 1 < len(files) <= 16
        post = rdr.snapshot(spark).groupBy(*cols).count()
        assert pre.exceptAll(post).count() == 0
        assert post.exceptAll(pre).count() == 0
        g = rdr.snapshot(spark).agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("p"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("s"),
        ).collect()[0]
        spans = [
            spark.read.parquet(p)
            .agg(
                (F.max("l_partkey") - F.min("l_partkey")).alias("p"),
                (F.max("l_suppkey") - F.min("l_suppkey")).alias("s"),
            )
            .collect()[0]
            for p in files
        ]
        assert sum(r["p"] for r in spans) / len(spans) < 0.45 * g["p"]
        assert sum(r["s"] for r in spans) / len(spans) < 0.45 * g["s"]
        # the narrow spans reach the LOG's per-file stats — what a
        # foreign engine skips on — and the traffic is dataChange:false
        with open(os.path.join(
            root, "_delta_log", f"{2:020d}.json"
        )) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        adds = [a["add"] for a in actions if "add" in a]
        assert all(a["dataChange"] is False for a in adds)
        stat_spans = [
            json.loads(a["stats"])["maxValues"]["l_partkey"]
            - json.loads(a["stats"])["minValues"]["l_partkey"]
            for a in adds
        ]
        assert sum(stat_spans) / len(stat_spans) < 0.45 * g["p"]
        info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
        assert info["operation"] == "OPTIMIZE"
        assert "l_partkey" in info["operationParameters"]["zOrderBy"]

    def test_sql_zorder_on_delta_attachment(self, spark, tables, tmp_path):
        """`OPTIMIZE TABLE d ZORDER BY (…)` routes to the delta writer
        for delta attachments (previously a refusal)."""
        from algebraicdb_spark.engine import Engine

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        for k in range(2):
            w.append(
                tables["lineitem"]
                .filter(f"l_orderkey % 2 = {k}")
                .select("l_partkey", "l_suppkey")
            )
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE zd FROM delta LOCATION '{root}'")
        n = eng.sql("SELECT * FROM zd").count()
        eng.sql("OPTIMIZE TABLE zd ZORDER BY (l_partkey, l_suppkey)")
        assert eng.sql("SELECT * FROM zd").count() == n
        assert DeltaLogTable(root).latest_version() == 2
        ops = [h["operation"] for h in DeltaLogTable(root).history()]
        assert ops[-1] == "OPTIMIZE"

    def test_cow_delete_update_on_standard_delta(self, spark, tmp_path):
        """Round 11: row-level DELETE/UPDATE on the standard format —
        three file classes (untouched / pure remove / rewrite) from one
        probe + footer counts, committed as data-changing remove+add
        with verbatim raw tombstone paths."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        # coalesce(1): one parquet FILE per append, so the three file
        # classes below are deterministic (delta adds are file-grain)
        w.append(_df(spark, [(1, "keep"), (2, "drop")],
                     "id long, tag string").coalesce(1))
        w.append(_df(spark, [(3, "drop"), (4, "drop")],
                     "id long, tag string").coalesce(1))
        w.append(_df(spark, [(5, "keep"), (6, "keep")],
                     "id long, tag string").coalesce(1))
        rdr = DeltaLogTable(root)
        before = rdr.live_paths()
        res = w.delete(spark, "tag = 'drop'")
        assert res["rows_deleted"] == 3
        assert res["files_removed"] == 2
        assert res["files_rewritten"] == 1
        after = rdr.live_paths()
        assert len(set(before) & set(after)) == 1  # untouched keeps add
        assert sorted(
            r["id"] for r in rdr.snapshot(spark).collect()
        ) == [1, 5, 6]
        # time travel sees the pre-delete content
        assert rdr.snapshot(spark, as_of=2).count() == 6
        # UPDATE: CASE rewrite cast back to declared types
        res2 = w.update(spark, {"tag": "upper(tag)"}, "id >= 5")
        assert res2["rows_updated"] == 2
        got = {r["id"]: r["tag"] for r in rdr.snapshot(spark).collect()}
        assert got == {1: "keep", 5: "KEEP", 6: "KEEP"}
        assert dict(rdr.snapshot(spark).dtypes)["tag"] == "string"
        # no-match mutations commit nothing
        v = rdr.latest_version()
        assert w.delete(spark, "id = 99")["version"] is None
        assert w.update(spark, {"tag": "'x'"}, "id = 99")["version"] is None
        assert rdr.latest_version() == v
        # partition-column assignment refuses (partitioned table)
        root2 = str(tmp_path / "p")
        w2 = DeltaTableWriter(root2)
        w2.append(
            _df(spark, [(1, 10), (2, 20)], "id long, bucket int"),
            partition_by=["bucket"],
        )
        with pytest.raises(ValueError, match="partition column"):
            w2.update(spark, {"bucket": "99"}, "id = 1")
        # partitioned COW keeps values in the log, not the files
        w2.delete(spark, "id = 2")
        snap = DeltaLogTable(root2).snapshot(spark)
        assert {(r["id"], r["bucket"]) for r in snap.collect()} == {(1, 10)}

    def test_vacuum_reclaims_unreachable_files(self, spark, tables, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        w.append(r.limit(2))            # v0
        w.overwrite(r.limit(3), 1)      # v1 tombstones v0's file
        w.append(r.limit(1))            # v2
        # retain last 2 versions (v1, v2): v0's file is unreachable
        doomed = w.vacuum(retain_versions=2)
        assert len(doomed) == 1
        t = DeltaLogTable(root)
        assert t.snapshot(spark).count() == 4
        # the vacuumed AS OF read fails on the missing file, as in Delta
        import pytest as _pytest

        with _pytest.raises(Exception):
            t.snapshot(spark, as_of=0).collect()

    def test_sql_maintenance_on_attached_delta(self, spark, tables, tmp_path):
        """OPTIMIZE TABLE / VACUUM run on a delta attachment now that
        the engine owns a standard-format writer."""
        from algebraicdb_spark.engine import Engine

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        r = tables["region"]
        w.append(r.limit(2))
        w.append(r.limit(3))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE d FROM delta LOCATION '{root}'")
        eng.sql("OPTIMIZE TABLE d")
        assert len(DeltaLogTable(root).live_paths()) == 1
        assert eng.sql("SELECT COUNT(*) AS n FROM d").collect()[0]["n"] == 5
        eng.sql("VACUUM d RETAIN 1")
        assert eng.sql("SELECT COUNT(*) AS n FROM d").collect()[0]["n"] == 5

    def test_describe_history_across_formats(self, spark, tables, tmp_path):
        """DESCRIBE HISTORY n from the dialect: the audit trail of an
        attached table from its commitInfo operations — maintenance
        and COW mutations record their own; non-attached names
        refuse."""
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine

        eng = Engine(spark)
        # append → append → optimize → delete
        t = DeltaTableWriter(str(tmp_path / "tl"))
        t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                       "id long, tag string"))
        t.append(spark.createDataFrame([(3, "a")], "id long, tag string"))
        t.optimize(spark)
        t.delete(spark, "tag = 'a'")
        eng.sql(f"ATTACH TABLE tl FROM delta LOCATION '{t.path}'")
        hist = eng.sql("DESCRIBE HISTORY tl").collect()
        assert [(h["version"], h["operation"]) for h in hist] == [
            (0, "WRITE"), (1, "WRITE"), (2, "OPTIMIZE"), (3, "DELETE"),
        ]
        # an overwrite is a WRITE too
        droot = str(tmp_path / "d")
        w = DeltaTableWriter(droot)
        w.append(tables["region"].limit(2))
        w.overwrite(tables["region"].limit(1), 1)
        eng.sql(f"ATTACH TABLE dl FROM delta LOCATION '{droot}'")
        assert [
            (h["version"], h["operation"])
            for h in eng.sql("DESCRIBE HISTORY dl").collect()
        ] == [(0, "WRITE"), (1, "WRITE")]
        # a dialect table has no commit log
        eng.sql("CREATE TABLE plain (x INT)")
        with _pytest.raises(AdtError, match="not an ATTACHed"):
            eng.sql("DESCRIBE HISTORY plain")
        # plain DESCRIBE still works (regex order)
        assert eng.sql("DESCRIBE plain") is not None

    def test_attach_from_sql_dialect(self, spark, tables, tmp_path):
        """The written table is queryable through the engine's ATTACH
        surface like any external Delta table."""
        from algebraicdb_spark.engine import Engine

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(tables["region"])
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE reg FROM delta LOCATION '{root}'")
        assert (
            eng.sql("SELECT COUNT(*) AS n FROM reg").collect()[0]["n"]
            == tables["region"].count()
        )


class TestDeletionVectorWrites:
    """Merge-on-read DELETE: sparse deletes commit O(bitmap), not
    O(file rewrite). Proof shape as everywhere in this file — the
    writer's output reads back through ``DeltaLogTable``, whose DV
    application was validated against HAND-ENCODED vector fixtures
    (test_warehouse.py), so reader/writer agreement is two-path
    evidence; structural tests additionally pin the raw descriptor
    JSON a third-party client parses."""

    @staticmethod
    def _table(spark, tmp_path, name="t"):
        root = str(tmp_path / name)
        w = DeltaTableWriter(root)
        # three files of 4 rows each: k 0-3 / 10-13 / 20-23
        for base in (0, 10, 20):
            w.append(
                spark.createDataFrame(
                    [(base + i, float(base + i)) for i in range(4)],
                    "k long, v double",
                ).coalesce(1)
            )
        return w

    def test_mor_delete_round_trips_and_pins_descriptor(
        self, spark, tmp_path
    ):
        w = self._table(spark, tmp_path)
        assert w.enable_deletion_vectors() == 3
        assert w.enable_deletion_vectors() is None  # idempotent
        res = w.delete(spark, "k IN (1, 11)")  # auto → mor: 2 files hit
        assert res["version"] == 4
        assert res["rows_deleted"] == 2
        assert res["files_dv"] == 2 and res["files_removed"] == 0
        t = DeltaLogTable(w.path)
        snap = t.snapshot(spark)
        assert snap.count() == 10
        assert sorted(r["k"] for r in snap.collect()) == [
            0, 2, 3, 10, 12, 13, 20, 21, 22, 23,
        ]
        # NO data file was rewritten: live paths identical pre/post
        # (live_paths itself refuses on DV'd tables — a raw path list
        # would resurrect rows — so compare the full fold's paths)
        assert sorted(
            res for _raw, res, _pv, _dv in t._live_entries_full()
        ) == sorted(t.live_paths(as_of=3))
        with pytest.raises(NotImplementedError, match="deletion vector"):
            t.live_paths()
        # time travel reads the pre-delete content
        assert t.snapshot(spark, as_of=3).count() == 12
        # raw commit shape: remove+add per hit file, add carries the
        # descriptor with the spec's required fields and loose stats
        with open(os.path.join(w.path, "_delta_log",
                               f"{4:020d}.json")) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        adds = [a["add"] for a in actions if "add" in a]
        removes = [a["remove"] for a in actions if "remove" in a]
        assert len(adds) == 2 and len(removes) == 2
        assert {a["path"] for a in adds} == {r["path"] for r in removes}
        for a in adds:
            d = a["deletionVector"]
            assert d["storageType"] in ("i", "u")
            assert d["cardinality"] == 1
            assert d["sizeInBytes"] > 0
            assert json.loads(a["stats"])["tightBounds"] is False
            assert json.loads(a["stats"])["numRecords"] == 4  # physical
        # protocol announces the feature in both lists
        proto, _m = t._protocol_meta()
        assert proto["minReaderVersion"] == 3
        assert proto["minWriterVersion"] == 7
        assert "deletionVectors" in proto["readerFeatures"]
        assert "deletionVectors" in proto["writerFeatures"]

    def test_second_delete_unions_existing_vector(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        w.enable_deletion_vectors()
        w.delete(spark, "k = 1")
        res = w.delete(spark, "k = 2")
        assert res["files_dv"] == 1
        t = DeltaLogTable(w.path)
        assert sorted(
            r["k"] for r in t.snapshot(spark).where("k < 10").collect()
        ) == [0, 3]
        # the head vector is the UNION — cardinality 2 on one file
        dvs = [dv for _r, _s, _p, dv in t._live_entries_full() if dv]
        assert len(dvs) == 1 and dvs[0]["cardinality"] == 2
        # a vector covering the whole file drops it as a plain remove
        res = w.delete(spark, "k IN (0, 3)")
        assert res["files_removed"] == 1 and res["files_dv"] == 0
        t = DeltaLogTable(w.path)
        assert not [dv for *_x, dv in t._live_entries_full() if dv]
        assert t.snapshot(spark).count() == 8

    def test_mode_dispatch_and_storage_tiers(self, spark, tmp_path):
        # auto on a non-enabled table stays copy-on-write
        w = self._table(spark, tmp_path, "cowt")
        res = w.delete(spark, "k = 1")
        assert res["files_rewritten"] == 1
        raw = open(os.path.join(
            w.path, "_delta_log", f"{res['version']:020d}.json")).read()
        assert "deletionVector" not in raw
        # explicit mor on a non-enabled table upgrades ATOMICALLY
        w2 = self._table(spark, tmp_path, "mort")
        res = w2.delete(spark, "k = 11", mode="mor")
        with open(os.path.join(
            w2.path, "_delta_log", f"{res['version']:020d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        assert any("protocol" in a for a in acts)
        assert any(
            "add" in a and a["add"].get("deletionVector") for a in acts
        )
        assert DeltaLogTable(w2.path).snapshot(spark).count() == 11
        # tiny vectors inline by default; threshold 0 forces a .bin
        d_inline = [
            a["add"]["deletionVector"] for a in acts
            if "add" in a and a["add"].get("deletionVector")
        ][0]
        assert d_inline["storageType"] == "i"
        res = w2.delete(spark, "k = 12", mode="mor", dv_inline_threshold=0)
        t2 = DeltaLogTable(w2.path)
        dvs = {
            dv["storageType"]
            for *_x, dv in t2._live_entries_full() if dv
        }
        assert "u" in dvs
        bins = [
            fn for fn in os.listdir(w2.path)
            if fn.startswith("deletion_vector_") and fn.endswith(".bin")
        ]
        assert len(bins) == 1
        assert t2.snapshot(spark).count() == 10
        # explicit cow on a DV-ENABLED table still rewrites
        w.delete(spark, "k = 2", mode="cow")
        assert DeltaLogTable(w.path).snapshot(spark).count() == 10

    def test_cow_mutations_apply_and_purge_vectors(self, spark, tmp_path):
        """UPDATE / MERGE / OPTIMIZE on a DV'd table: scans apply the
        vector (deleted rows never resurrect, never rematch), rewrites
        materialize it, OPTIMIZE purges it dataChange:false."""
        w = self._table(spark, tmp_path)
        w.delete(spark, "k = 1", mode="mor")
        # UPDATE through the DV'd file: 4 physical rows, 3 live
        w.update(spark, {"v": "v + 100"}, "k < 10")
        t = DeltaLogTable(w.path)
        got = sorted(
            (r["k"], r["v"])
            for r in t.snapshot(spark).where("k < 10").collect()
        )
        assert got == [(0, 100.0), (2, 102.0), (3, 103.0)]
        # the rewrite materialized the vector — no DV'd add remains
        assert not [dv for *_x, dv in t._live_entries_full() if dv]
        # MERGE over a fresh DV'd file: matched counts are LIVE counts
        w.delete(spark, "k = 11", mode="mor")
        src = spark.createDataFrame(
            [(11, 0.0), (12, 5.0)], "k long, nv double"
        )
        res = w.merge(
            spark, src, "t.k = s.k", {"v": "s.nv"}, ["s.k", "s.nv"],
        )
        # k=11 is DELETED: it must NOT match (that would resurrect it)
        # — it re-inserts as a new row instead; k=12 updates in place
        assert res["rows_matched"] == 1 and res["rows_inserted"] == 1
        t = DeltaLogTable(w.path)
        assert sorted(
            (r["k"], r["v"])
            for r in t.snapshot(spark).where(
                "k >= 10 AND k < 20").collect()
        ) == [(10, 10.0), (11, 0.0), (12, 5.0), (13, 13.0)]
        # OPTIMIZE purges remaining vectors without a data change
        w.delete(spark, "k = 21", mode="mor")
        v = w.optimize(spark)
        assert v is not None
        t = DeltaLogTable(w.path)
        assert not [dv for *_x, dv in t._live_entries_full() if dv]
        # 12 initial − {1, 11, 21} deleted + the merge's re-insert of 11
        assert t.snapshot(spark).count() == 10
        with open(os.path.join(
            w.path, "_delta_log", f"{v:020d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        assert all(
            not a["add"]["dataChange"] for a in acts if "add" in a
        )
        # vacuum after the purge reclaims nothing still-reachable and
        # leaves the snapshot intact
        w.vacuum(retain_versions=1)
        assert DeltaLogTable(w.path).snapshot(spark).count() == 10

    def test_checkpoint_carries_deletion_vectors(self, spark, tmp_path):
        w = self._table(spark, tmp_path)
        w.delete(spark, "k IN (1, 11)", mode="mor")
        # the protocol upgrade rode the delete commit — version 3
        assert w.write_checkpoint(clean=True) == 3
        t = DeltaLogTable(w.path)
        snap = t.snapshot(spark)
        assert snap.count() == 10
        assert sorted(r["k"] for r in snap.where("k < 15").collect()) == [
            0, 2, 3, 10, 12, 13,
        ]
        # and the feature lists survived the fold (reader would refuse
        # DV adds without the protocol announcing them)
        proto, _m = t._protocol_meta()
        assert "deletionVectors" in proto["readerFeatures"]
        # a post-checkpoint MoR delete unions against the
        # checkpoint-sourced descriptor
        w.delete(spark, "k = 2", mode="mor")
        assert DeltaLogTable(w.path).snapshot(spark).count() == 9

    def test_change_feeds_over_dv_windows(self, spark, tmp_path):
        """A MoR delete window: the ROW-LEVEL feed resolves the flip
        (see TestRowLevelCdfAcrossDvFlips for the full contract)."""
        w = self._table(spark, tmp_path)
        base = w.latest_version()
        w.delete(spark, "k = 1", mode="mor")
        t = DeltaLogTable(w.path)
        rows = [(r["k"], r["_change_type"])
                for r in t.changes_cdf(spark, base).collect()]
        assert rows == [(1, "delete")]

    def test_writer_feature_gates(self, spark, tmp_path):
        """Unknown writerFeatures refuse every write; an append-only
        table (the appendOnly feature with delta.appendOnly=true)
        permits appends and refuses mutations — silently wrong >
        unsupported, on the WRITE side. The feature alone only says
        writers honor the property (PROTOCOL.md "Append-only
        Tables")."""
        import uuid as _uuid

        def mk(feats, name, conf=None):
            root = str(tmp_path / name)
            os.makedirs(os.path.join(root, "_delta_log"))
            df = spark.createDataFrame([(1,)], "k long")
            df.write.parquet(os.path.join(root, "d0"))
            part = [
                fn for fn in os.listdir(os.path.join(root, "d0"))
                if fn.endswith(".parquet")
            ][0]
            os.replace(os.path.join(root, "d0", part),
                       os.path.join(root, "f0.parquet"))
            with open(os.path.join(root, "_delta_log",
                                   f"{0:020d}.json"), "w") as f:
                for a in [
                    {"protocol": {"minReaderVersion": 1,
                                  "minWriterVersion": 7,
                                  "readerFeatures": [],
                                  "writerFeatures": feats}},
                    {"metaData": {
                        "id": str(_uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": df.schema.json(),
                        "partitionColumns": [],
                        "configuration": conf or {},
                    }},
                    {"add": {"path": "f0.parquet", "partitionValues": {},
                             "size": 1, "modificationTime": 0,
                             "dataChange": True}},
                ]:
                    f.write(json.dumps(a) + "\n")
            return DeltaTableWriter(root)

        w = mk(["rowTracking"], "rt")
        df = spark.createDataFrame([(2,)], "k long")
        with pytest.raises(NotImplementedError, match="rowTracking"):
            w.append(df)
        with pytest.raises(NotImplementedError, match="rowTracking"):
            w.delete(spark, "k = 1")
        w2 = mk(["appendOnly"], "ao", {"delta.appendOnly": "true"})
        assert w2.append(df) == 1  # appends are exactly what's allowed
        with pytest.raises(ValueError, match="append-only"):
            w2.delete(spark, "k = 1")
        with pytest.raises(ValueError, match="append-only"):
            w2.overwrite(df, expected_version=2)
        w3 = mk(["appendOnly"], "feature-only")
        assert w3.delete(spark, "k = 1")["rows_deleted"] == 1

    def test_sql_enable_and_mor_delete_on_attachment(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.engine import Engine

        w = self._table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE d FROM delta LOCATION '{w.path}'")
        eng.sql("ALTER TABLE d ENABLE DELETION VECTORS")
        eng.sql("DELETE FROM d WHERE k = 11")
        eng.sql("REFRESH TABLE d")
        assert eng.sql("SELECT COUNT(*) AS n FROM d").collect()[0]["n"] == 11
        # the delete WAS merge-on-read: same live files as before
        t = DeltaLogTable(w.path)
        assert sorted(
            res for _raw, res, _pv, _dv in t._live_entries_full()
        ) == sorted(t.live_paths(as_of=2))


class TestRowLevelCdfAcrossDvFlips:
    """Round 11 second half: the row-level change feed resolves
    deletion-vector flips (previously a refusal) — the window's sides
    assemble with their respective vectors applied, so the EXCEPT-ALL
    diff yields exactly the flipped rows, and IncrementalAggView folds
    another engine's MoR deletes as signed retractions, O(delta)."""

    def test_cdf_emits_deletes_for_dv_flip(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"
        ).coalesce(1))
        base = w.latest_version()
        w.delete(spark, "k IN (1, 4)", mode="mor")
        t = DeltaLogTable(root)
        cdf = t.changes_cdf(spark, base)
        rows = sorted(
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in cdf.collect()
        )
        assert rows == [(1, "delete", 1), (4, "delete", 1)]
        # a SECOND flip on the same file diffs against the UNION state
        w.delete(spark, "k = 2", mode="mor")
        rows2 = sorted(
            (r["k"], r["_change_type"])
            for r in DeltaLogTable(root).changes_cdf(spark, base + 1)
            .collect()
        )
        assert rows2 == [(2, "delete")]
        # and the full window composes both commits
        assert DeltaLogTable(root).changes_cdf(spark, base).count() == 3

    def test_cdf_window_reaching_below_a_checkpoint(self, spark, tmp_path):
        """A checkpoint stores folded STATE, not changes — a CDF window
        starting below it must replay the surviving JSON history (not
        silently truncate the feed at the checkpoint), and refuse
        loudly once clean=True removed that history."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, 10.0)], "k long, v double"))   # v0
        w.append(_df(spark, [(2, 20.0)], "k long, v double"))   # v1
        w.delete(spark, "k = 1")                                # v2 COW
        assert w.write_checkpoint() == 2
        w.append(_df(spark, [(3, 30.0)], "k long, v double"))   # v3
        got = {
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in DeltaLogTable(root)
            .changes_cdf(spark, since=0).collect()
        }
        # v1's insert and v2's delete sit at/below the checkpoint and
        # must still be in the feed
        assert got == {
            (2, "insert", 1), (1, "delete", 2), (3, "insert", 3),
        }
        # a window AT the checkpoint version seeds from it (fast path)
        assert {
            (r["k"], r["_change_type"])
            for r in DeltaLogTable(root)
            .changes_cdf(spark, since=2).collect()
        } == {(3, "insert")}
        # same head, cleaned prefix: the change information is GONE —
        # refuse instead of returning a truncated feed
        assert w.write_checkpoint(clean=True) == 3
        with pytest.raises(ValueError, match="missing JSON commits"):
            DeltaLogTable(root).changes_cdf(spark, since=0)

    def test_checkpoint_maintenance_survives_mor_deletes(
        self, spark, tmp_path
    ):
        """Checkpoint #1 bakes a MoR delete's DV'd add into the
        checkpoint; the SECOND checkpoint's tombstone fold walks those
        adds and must treat a DV'd add as a live path (it previously
        refused on the descriptor, permanently breaking periodic
        checkpoint maintenance on any MoR-deleted table)."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, 10.0), (2, 20.0)],
                     "k long, v double").coalesce(1))
        w.enable_deletion_vectors()
        w.delete(spark, "k = 1")   # MoR automatically once enabled
        assert w.write_checkpoint() is not None
        w.append(_df(spark, [(3, 30.0)], "k long, v double"))
        assert w.write_checkpoint() is not None  # was: NotImplementedError
        assert sorted(
            r["k"] for r in DeltaLogTable(root).snapshot(spark).collect()
        ) == [2, 3]

    def test_incremental_agg_view_folds_mor_deletes(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.operators.txnlog import (
            IncrementalAggView,
        )

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(spark.createDataFrame(
            [(i % 3, float(i)) for i in range(12)], "g long, v double"
        ).coalesce(1))
        view = IncrementalAggView(
            base=DeltaLogTable(root),
            state_path=str(tmp_path / "state"),
            group_cols=["g"],
            sum_cols=["v"],
        )
        view.refresh(spark)
        pre = {
            r["g"]: (r["n_rows"], float(r["sum_v"]))
            for r in view.read(spark).collect()
        }
        assert pre[0] == (4, 0.0 + 3 + 6 + 9)
        # an external-style MoR delete retracts WITHOUT a rebuild
        w.delete(spark, "v >= 6.0", mode="mor")
        view.refresh(spark)
        post = {
            r["g"]: (r["n_rows"], float(r["sum_v"]))
            for r in view.read(spark).collect()
        }
        assert post[0] == (2, 3.0)
        assert post[1] == (2, 1.0 + 4)
        assert post[2] == (2, 2.0 + 5)
        # bit-equal to a from-scratch rebuild
        view.rebuild(spark)
        rebuilt = {
            r["g"]: (r["n_rows"], float(r["sum_v"]))
            for r in view.read(spark).collect()
        }
        assert rebuilt == post


class TestMergeOnReadUpdate:
    """MoR UPDATE: preimages deletion-vectored in place, ONLY the
    postimages staged — O(bitmap + changed rows) per commit. Read back
    through the fixture-validated DeltaLogTable, as everywhere."""

    def test_update_mor_round_trips(self, spark, tmp_path):
        w = TestDeletionVectorWrites._table(spark, tmp_path)
        w.enable_deletion_vectors()
        pre_paths = sorted(DeltaLogTable(w.path).live_paths())
        res = w.update(spark, {"v": "v + 1000"}, "k IN (1, 21)")
        assert res["rows_updated"] == 2 and res["files_dv"] == 2
        t = DeltaLogTable(w.path)
        snap = t.snapshot(spark)
        assert snap.count() == 12  # row count preserved
        got = {r["k"]: r["v"] for r in snap.collect()}
        assert got[1] == 1001.0 and got[21] == 1021.0
        assert got[0] == 0.0 and got[20] == 20.0
        # the ORIGINAL files were not rewritten: every pre-update path
        # is still in the live set (DV'd), plus the postimage file(s)
        live = sorted(
            res_ for _raw, res_, _pv, _dv in t._live_entries_full()
        )
        assert set(pre_paths) <= set(live)
        assert len(live) > len(pre_paths)
        # raw commit shape: one commit carrying remove+DV-re-add AND
        # the postimage add — a reader never sees the delete alone
        with open(os.path.join(
                w.path, "_delta_log",
                f"{res['version']:020d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        dv_adds = [a for a in acts
                   if "add" in a and a["add"].get("deletionVector")]
        plain_adds = [a for a in acts
                      if "add" in a and not a["add"].get("deletionVector")]
        assert len(dv_adds) == 2 and len(plain_adds) >= 1
        # time travel reads the pre-update values
        assert {
            r["k"]: r["v"]
            for r in t.snapshot(spark, as_of=res["version"] - 1)
            .collect()
        }[1] == 1.0
        # updating an already-DV'd row set unions vectors
        res2 = w.update(spark, {"v": "v - 1"}, "k = 2")
        t = DeltaLogTable(w.path)
        got = {r["k"]: r["v"] for r in t.snapshot(spark).collect()}
        assert got[2] == 1.0 and got[1] == 1001.0
        assert t.snapshot(spark).count() == 12
        # incremental consumers fold the MoR update O(delta) as
        # update_preimage/update_postimage rows
        cdf = t.changes_cdf(spark, res2["version"] - 1)
        kinds = sorted(
            (r["k"], r["_change_type"]) for r in cdf.collect()
        )
        assert kinds == [
            (2, "update_postimage"), (2, "update_preimage"),
        ]

    def test_sql_update_goes_mor_when_enabled(self, spark, tmp_path):
        from algebraicdb_spark.engine import Engine

        w = TestDeletionVectorWrites._table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE ud FROM delta LOCATION '{w.path}'")
        eng.sql("ALTER TABLE ud ENABLE DELETION VECTORS")
        pre = sorted(DeltaLogTable(w.path).live_paths(as_of=2))
        eng.sql("UPDATE ud SET v = 9.5 WHERE k = 11")
        eng.sql("REFRESH TABLE ud")
        assert eng.sql(
            "SELECT v FROM ud WHERE k = 11").collect()[0]["v"] == 9.5
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ud").collect()[0]["n"] == 12
        live = sorted(
            r for _raw, r, _pv, _dv
            in DeltaLogTable(w.path)._live_entries_full()
        )
        assert set(pre) <= set(live)  # nothing rewritten — MoR


class TestMergeOnReadMerge:
    """MoR MERGE: matched targets deletion-vectored, postimages +
    inserts staged, one commit."""

    def test_merge_mor_round_trips(self, spark, tmp_path):
        w = TestDeletionVectorWrites._table(spark, tmp_path)
        w.enable_deletion_vectors()
        pre_paths = sorted(DeltaLogTable(w.path).live_paths())
        src = _df(
            spark, [(1, 100.0), (11, 111.0), (50, 50.0)],
            "k long, nv double",
        )
        res = w.merge(
            spark, src, "t.k = s.k", {"v": "s.nv"}, ["s.k", "s.nv"],
        )
        assert res["rows_matched"] == 2 and res["rows_inserted"] == 1
        assert res["files_dv"] == 2
        t = DeltaLogTable(w.path)
        snap = t.snapshot(spark)
        assert snap.count() == 13
        got = {r["k"]: r["v"] for r in snap.collect()}
        assert got[1] == 100.0 and got[11] == 111.0 and got[50] == 50.0
        assert got[0] == 0.0
        # merge-on-read: every pre-merge file is still live (DV'd)
        live = sorted(
            r for _raw, r, _pv, _dv in t._live_entries_full()
        )
        assert set(pre_paths) <= set(live)
        # a matched row that was already DV-deleted does NOT rematch —
        # it re-inserts instead (same contract as the COW path)
        w.delete(spark, "k = 2")  # auto → mor
        res2 = w.merge(
            spark,
            _df(spark, [(2, 222.0)], "k long, nv double"),
            "t.k = s.k", {"v": "s.nv"}, ["s.k", "s.nv"],
        )
        assert res2["rows_matched"] == 0 and res2["rows_inserted"] == 1
        assert DeltaLogTable(w.path).snapshot(spark).where(
            "k = 2").collect()[0]["v"] == 222.0

    def test_merge_mor_delete_matched_and_multimatch(
        self, spark, tmp_path
    ):
        w = TestDeletionVectorWrites._table(spark, tmp_path)
        res = w.merge(
            spark,
            _df(spark, [(10,), (11,)], "k long"),
            "t.k = s.k", None, None, delete_matched=True, mode="mor",
        )
        assert res["rows_matched"] == 2 and res["files_dv"] == 1
        t = DeltaLogTable(w.path)
        assert t.snapshot(spark).count() == 10
        # multi-match refuses, unstages, and reclaims the .bin
        dup = _df(spark, [(1, 1.0), (1, 2.0)], "k long, nv double")
        bins_before = {
            f for f in os.listdir(w.path) if f.endswith(".bin")
        }
        with pytest.raises(ValueError, match="matched multiple"):
            w.merge(spark, dup, "t.k = s.k", {"v": "s.nv"}, None,
                    mode="mor", dv_inline_threshold=0)
        assert {
            f for f in os.listdir(w.path) if f.endswith(".bin")
        } == bins_before
        assert DeltaLogTable(w.path).snapshot(spark).count() == 10


class TestDeltaRestore:
    """RESTORE on the standard format: one data-changing commit any
    Delta engine folds, original stats/DV descriptors carried
    verbatim, MoR deletes after the target flip back, and the output
    is read back through the fixture-validated DeltaLogTable."""

    def test_restore_undoes_cow_delete(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, 10.0), (2, 20.0)],
                     "k long, v double").coalesce(1))
        w.append(_df(spark, [(3, 30.0)], "k long, v double"))
        w.delete(spark, "k <= 2")                       # v2 COW
        t = DeltaLogTable(root)
        assert sorted(r["k"] for r in t.snapshot(spark).collect()) == [3]
        res = w.restore(1)
        assert res["version"] == 3 and res["files_readded"] == 1
        assert sorted(
            r["k"] for r in t.snapshot(spark).collect()
        ) == [1, 2, 3]
        # history preserved; commitInfo records the RESTORE
        assert t.snapshot(spark, as_of=2).count() == 1
        assert t.history()[-1]["operation"] == "RESTORE"
        # no-op restore commits nothing
        assert w.restore(3)["version"] is None

    def test_restore_flips_deletion_vectors_back(self, spark, tmp_path):
        import pytest as _pytest

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(i, float(i)) for i in range(6)],
                     "k long, v double").coalesce(1))
        w.enable_deletion_vectors()                     # v1
        w.delete(spark, "k IN (1, 4)")                  # v2 MoR
        w.delete(spark, "k = 2")                        # v3 MoR (union)
        t = DeltaLogTable(root)
        assert t.snapshot(spark).count() == 3
        # restore to v2's state: k=2 comes back, k∈{1,4} stay deleted
        res = w.restore(2)
        assert res["version"] == 4
        assert sorted(
            r["k"] for r in t.snapshot(spark).collect()
        ) == [0, 2, 3, 5]
        # restore to v0: every vector drops
        w.restore(0)
        assert t.snapshot(spark).count() == 6
        # out-of-range refuses
        with _pytest.raises(ValueError, match="0[.][.]5"):
            w.restore(17)

    def test_restore_across_a_repartitioning_overwrite(
        self, spark, tmp_path
    ):
        """RESTORE must re-commit the target metaData when ONLY the
        partition spec changed (same schemaString): partition VALUES
        live only in the log, so restoring the partitioned live set
        under partitionColumns=[] would read the partition column
        all-NULL — silent corruption, not a shape error."""
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, "a"), (2, "b")], "k long, r string"),
                 partition_by=["r"])                      # v0
        w.overwrite(_df(spark, [(9, "z")], "k long, r string"),
                    expected_version=1, partition_by=[])  # v1: de-part
        w.restore(0)                                      # v2
        t = DeltaLogTable(root)
        got = {(x["k"], x["r"]) for x in t.snapshot(spark).collect()}
        assert got == {(1, "a"), (2, "b")}  # r synthesized, not NULL
        # and the reverse: restore back to the unpartitioned v1
        w.restore(1)
        assert {(x["k"], x["r"])
                for x in t.snapshot(spark).collect()} == {(9, "z")}

    def test_restore_past_retention_refuses(self, spark, tmp_path):
        import pytest as _pytest

        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(_df(spark, [(1, 10.0)], "k long, v double"))
        w.overwrite(_df(spark, [(2, 20.0)], "k long, v double"),
                    expected_version=1)
        w.vacuum(retain_versions=1)  # reclaims v0's file
        with _pytest.raises(ValueError, match="reclaimed"):
            w.restore(0)


class TestDeltaDataSkipping:
    """Two-tier log-level pruning over a STANDARD Delta table —
    partition values first, then the add actions' recorded min/max
    stats, on tables any Delta engine wrote (our writer records
    spec-shaped stats, so its own output skips too)."""

    def test_skip_prunes_files_and_rows_match(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        # four files with disjoint k ranges → clean stats windows
        for base in (0, 100, 200, 300):
            w.append(_df(
                spark,
                [(base + i, float(base + i)) for i in range(10)],
                "k long, v double",
            ).coalesce(1))
        t = DeltaLogTable(root)
        assert len(t.live_paths()) == 4
        # stats tier: a point-range skip opens exactly one file
        assert len(t.live_paths(skip=[("k", 105, 107)])) == 1
        got = t.snapshot(spark, skip=[("k", 105, 107)])
        # pruning is a SUPERSET guarantee: the frame still needs the
        # residual predicate, but only 1 file's rows flow into it
        assert got.count() == 10
        assert got.where("k BETWEEN 105 AND 107").count() == 3
        # a range covering nothing returns an empty frame, pinned shape
        empty = t.snapshot(spark, skip=[("k", 4000, 5000)])
        assert empty.count() == 0 and empty.columns == ["k", "v"]
        # the skip state survives a checkpointed (cleaned) log — stats
        # ride the checkpoint's add rows
        w.write_checkpoint(clean=True)
        t = DeltaLogTable(root)
        assert len(t.live_paths(skip=[("k", 205, 207)])) == 1

    def test_partition_tier_prunes_without_stats(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        w.append(
            _df(
                spark,
                [(1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, None, "d")],
                "id long, bucket int, s string",
            ),
            partition_by=["bucket"],
        )
        t = DeltaLogTable(root)
        pruned = t.live_paths(skip=[("bucket", 20, 20)])
        assert 0 < len(pruned) < len(t.live_paths())
        # the null partition prunes against ranges (the value is
        # AUTHORITATIVE: every row's bucket IS NULL there)
        snap = t.snapshot(spark, skip=[("bucket", 10, 25)])
        assert sorted(r["id"] for r in snap.collect()) == [1, 2, 3]


class TestMorOnPartitionedTables:
    """MoR mutation on a hive-partitioned Delta table: vectors attach
    per file under the partition layout, postimages restage
    partition-aware, partition values carry through remove/re-add."""

    def test_partitioned_mor_delete_and_update(self, spark, tmp_path):
        root = str(tmp_path / "t")
        w = DeltaTableWriter(root)
        df = _df(
            spark,
            [(i, i % 2, float(i)) for i in range(8)],
            "id long, bucket int, v double",
        )
        # one 4-row file per partition (tiny default files would be
        # fully covered and drop as plain removes — also correct, but
        # this test pins the vector path)
        w.append(df.repartition(1), partition_by=["bucket"])
        w.enable_deletion_vectors()
        res = w.delete(spark, "id IN (2, 3)")
        assert res["files_dv"] >= 1
        t = DeltaLogTable(root)
        snap = t.snapshot(spark)
        assert sorted(r["id"] for r in snap.collect()) == [
            0, 1, 4, 5, 6, 7,
        ]
        # partition values carried through the DV re-add — a
        # partition-pruned read still resolves correctly
        assert sorted(
            r["id"] for r in t.snapshot(
                spark, skip=[("bucket", 0, 0)]).collect()
        ) == [0, 4, 6]
        # MoR update restages postimages under the partition layout
        w.update(spark, {"v": "v + 100"}, "id = 5")
        t = DeltaLogTable(root)
        got = {r["id"]: (r["bucket"], r["v"]) for r in
               t.snapshot(spark).collect()}
        assert got[5] == (1, 105.0)
        assert t.snapshot(spark).count() == 6
        # the raw commit carries partitionValues on every add
        last = t.latest_version()
        with open(os.path.join(
                root, "_delta_log", f"{last:020d}.json")) as f:
            acts = [json.loads(line) for line in f if line.strip()]
        for a in acts:
            if "add" in a:
                assert a["add"]["partitionValues"].get("bucket") in (
                    "0", "1",
                )
