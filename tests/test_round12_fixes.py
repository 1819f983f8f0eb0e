"""Round-12 advice fixes, pinned:

1. Iceberg append bounds key on the TABLE's field ids (not the
   batch's positional 1..n) — a foreign table evolved by a real
   client keeps correct data-skipping stats.
2. MoR update/merge/upsert unstage EVERYTHING on any exception, not
   just ConcurrentWriteError/ValueError — no orphaned data files.
3. The CDC upsert sink bootstraps a fresh table via an idempotent
   append instead of failing its first micro-batch.
4. Delta SET TBLPROPERTIES enabling deletion vectors plus other keys
   lands in ONE commit (no half-applied statement).
5. Iceberg TIMESTAMP AS OF ties on timestamp-ms break on the
   metadata snapshot-log order (authoritative), not max(snapshot-id).
"""

import json
import os

import pytest

# Heavyweight lakehouse interop e2e tier: excluded from the
# default pytest run (see pyproject [tool.pytest.ini_options]);
# run explicitly with `pytest -m interop`.
pytestmark = pytest.mark.interop

from algebraicdb_spark.operators.iceberg import (
    AvroFileReader,
    IcebergTable,
)
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter


def _data_files(path: str) -> set[str]:
    return set(os.listdir(os.path.join(path, "data")))


class TestBoundsUseTableFieldIds:
    def test_append_bounds_key_on_current_schema_ids(
        self, spark, tmp_path
    ):
        """Renumber the table's field ids the way a foreign client's
        schema evolution would (drop + re-add ⇒ non-positional ids),
        then append: the new manifest's lower/upper bounds must key
        on the TABLE ids — positional keys would make every
        skip-enabled reader prune on the wrong column's min/max."""
        root = str(tmp_path / "ids")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string").coalesce(1))
        base_v, cur = w._current()
        md = dict(cur)
        sch = json.loads(json.dumps(md["schemas"][0]))  # deep copy
        sch["fields"][0]["id"] = 11
        sch["fields"][1]["id"] = 12
        md["schemas"] = [sch]
        md["last-column-id"] = 12
        w._publish_metadata(md, base_v)

        sid = w.append(spark.createDataFrame(
            [(100, "z")], "k long, v string").coalesce(1))
        t = IcebergTable(root)
        snap = t._snapshot(None)
        rows = AvroFileReader(
            t._resolve(snap["manifest-list"])
        ).records
        new_m = next(
            r for r in rows if r["added_snapshot_id"] == sid
        )
        entries = AvroFileReader(
            t._resolve(new_m["manifest_path"])
        ).records
        keys = {
            e["key"]
            for ent in entries
            for e in (ent["data_file"]["lower_bounds"] or [])
        }
        assert keys == {11, 12}
        # and the reader decodes them back to the right columns
        st = t._prunable_state()
        assert any(b.get("k") == [100, 100] for b, *_pv in st.values())
        # a range missing the new file prunes it; the pre-renumber
        # file's bounds key on the retired ids, so it can no longer
        # prune (cannot-prune, never prune-wrongly) and survives
        assert len(t.live_paths(skip=[("k", 0, 10)])) == 1


class TestUnstageOnAnyException:
    @staticmethod
    def _mor_table(spark, tmp_path, name):
        w = IcebergTableWriter(str(tmp_path / name))
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"
        ).coalesce(1))
        return w

    def test_update_mor_unstages_on_runtime_error(self, spark, tmp_path):
        """The position-delete file is staged BEFORE the postimages;
        a runtime error evaluating an assignment at write time must
        unstage it too — previously this leaked the delete file."""
        w = self._mor_table(spark, tmp_path, "um")
        before = _data_files(w.path)
        with pytest.raises(Exception, match="boom"):
            w.update(
                spark,
                {"v": "CAST(raise_error('boom') AS DOUBLE)"},
                "k >= 0", mode="mor",
            )
        assert _data_files(w.path) == before
        assert IcebergTable(w.path).snapshot(spark).count() == 6

    def test_merge_mor_unstages_on_insert_stage_error(
        self, spark, tmp_path
    ):
        w = self._mor_table(spark, tmp_path, "mm")
        before = _data_files(w.path)
        src = spark.createDataFrame(
            [(1, 99.0), (77, 7.0)], "k long, v double")
        with pytest.raises(Exception, match="boom"):
            w.merge(
                spark, src, "t.k = s.k",
                assignments={"v": "s.v"},
                insert_exprs=["s.k", "CAST(raise_error('boom') AS DOUBLE)"],
                mode="mor",
            )
        assert _data_files(w.path) == before
        # the table is untouched and still mutable
        assert IcebergTable(w.path).snapshot(spark).count() == 6

    def test_upsert_unstages_on_unexpected_publish_error(
        self, spark, tmp_path
    ):
        w = self._mor_table(spark, tmp_path, "up")
        before = _data_files(w.path)

        def explode(*_a, **_k):
            raise RuntimeError("disk on fire")

        w._publish_mor = explode
        with pytest.raises(RuntimeError, match="disk on fire"):
            w.upsert_by_key(
                spark,
                spark.createDataFrame([(1, 9.0)], "k long, v double")
                .coalesce(1),
                ["k"],
            )
        assert _data_files(w.path) == before


class TestUpsertSinkBootstrap:
    def test_fresh_table_bootstraps_via_idempotent_append(
        self, spark, tmp_path
    ):
        """A CDC sink pointed at a freshly created iceberg table must
        not fail its first micro-batch: the bootstrap batch lands as
        an append carrying the SAME replay mark, and redelivery of it
        AFTER later upserts no-ops on the upsert path's mark check."""
        from algebraicdb_spark.streaming.sink import upsert_committer

        w = IcebergTableWriter(str(tmp_path / "boot"))
        commit = upsert_committer(w, "cdc", ["k"])
        b0 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string").coalesce(1)
        b1 = spark.createDataFrame(
            [(2, "B"), (3, "c")], "k long, v string").coalesce(1)
        commit(b0, 0)  # bootstrap: table had no snapshot
        commit(b1, 1)  # normal upsert
        commit(b0, 0)  # redelivered bootstrap: no-op
        t = IcebergTable(w.path)
        assert {
            (x["k"], x["v"]) for x in t.snapshot(spark).collect()
        } == {(1, "a"), (2, "B"), (3, "c")}
        assert len(t.snapshots()) == 2

    def test_bootstrap_batch_still_requires_unique_keys(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.streaming.sink import upsert_committer

        w = IcebergTableWriter(str(tmp_path / "bootdup"))
        commit = upsert_committer(w, "cdc", ["k"])
        dup = spark.createDataFrame(
            [(1, "a"), (1, "b")], "k long, v string").coalesce(1)
        with pytest.raises(ValueError, match="share a key"):
            commit(dup, 0)


class TestDeltaSetPropertiesAtomicity:
    def test_dv_enable_plus_other_keys_is_one_commit(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        w = DeltaTableWriter(str(tmp_path / "dvp"))
        w.append(spark.createDataFrame([(1,)], "k long").coalesce(1))
        head = w.latest_version()
        v = w.set_properties({
            "delta.enableDeletionVectors": "true",
            "delta.appendOnly": "false",
            "team.owner": "etl",
        })
        assert v == head + 1 == w.latest_version()
        props = w.properties()
        assert props["delta.enableDeletionVectors"] == "true"
        assert props["delta.appendOnly"] == "false"
        assert props["team.owner"] == "etl"
        proto, _m = w.reader()._protocol_meta()
        assert "deletionVectors" in (proto.get("writerFeatures") or [])

    def test_already_enabled_commits_rest_normally(self, spark, tmp_path):
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        w = DeltaTableWriter(str(tmp_path / "dvp2"))
        w.append(spark.createDataFrame([(1,)], "k long").coalesce(1))
        w.enable_deletion_vectors()
        head = w.latest_version()
        v = w.set_properties({
            "delta.enableDeletionVectors": "true",
            "team.owner": "ml",
        })
        assert v == head + 1
        assert w.properties()["team.owner"] == "ml"


class TestNestedIcebergWrites:
    """Round 12's top verdict item: the writer's flat-primitive
    refusal lifted — struct/list/map columns get spec field ids
    (element/key/value ids included), stamped into the parquet
    footers as real field_id metadata, and round-trip through the
    fixture-validated reader."""

    def test_embeddings_array_column_round_trips(self, spark, tmp_path):
        root = str(tmp_path / "emb")
        w = IcebergTableWriter(root)
        rows = [(i, [float(i), float(i) * 0.5, 1.0]) for i in range(20)]
        w.append(spark.createDataFrame(
            rows, "doc_id long, embedding array<float>").coalesce(1))
        got = {
            (r["doc_id"], tuple(r["embedding"]))
            for r in IcebergTable(root).snapshot(spark).collect()
        }
        assert got == {
            (i, (float(i), float(i) * 0.5, 1.0)) for i in range(20)
        }

    def test_struct_and_map_round_trip_with_spec_ids(
        self, spark, tmp_path
    ):
        """ADT-shaped struct + map columns: unique field ids across
        the whole tree, last-column-id covers the deepest id, and the
        parquet footers carry the ids as field_id metadata (how
        conformant readers survive renames)."""
        import pyarrow.parquet as pq

        root = str(tmp_path / "adt")
        w = IcebergTableWriter(root)
        df = spark.createDataFrame(
            [(1, ("circle", 2.5, [1, 2]), {"a": 10}),
             (2, ("rect", 0.0, [3]), {"b": 20})],
            "k long, shape struct<tag: string, r: double, "
            "pts: array<int>>, attrs map<string, int>",
        ).coalesce(1)
        w.append(df)
        t = IcebergTable(root)
        got = sorted(
            (r["k"], r["shape"]["tag"], tuple(r["shape"]["pts"]),
             dict(r["attrs"]))
            for r in t.snapshot(spark).collect()
        )
        assert got == [(1, "circle", (1, 2), {"a": 10}),
                       (2, "rect", (3,), {"b": 20})]

        # spec ids: unique across the tree, watermark covers them
        meta = t.meta
        sch = meta["schemas"][0]
        ids = []

        def walk(x):
            if isinstance(x, dict):
                if x.get("type") == "struct":
                    for f in x["fields"]:
                        ids.append(f["id"])
                        walk(f["type"])
                elif x.get("type") == "list":
                    ids.append(x["element-id"])
                    walk(x["element"])
                elif x.get("type") == "map":
                    ids.append(x["key-id"])
                    ids.append(x["value-id"])
                    walk(x["key"])
                    walk(x["value"])

        walk(sch)
        assert len(ids) == len(set(ids)) == 9
        assert meta["last-column-id"] == max(ids)

        # the staged parquet carries the ids in its footer schema
        path = t.live_paths()[0]
        arrow = pq.ParquetFile(path).schema_arrow
        k_meta = arrow.field("k").metadata or {}
        assert k_meta.get(b"PARQUET:field_id") == b"1"
        shape = arrow.field("shape")
        assert (shape.metadata or {}).get(b"PARQUET:field_id") == b"2"
        tag = shape.type.field(0)
        assert (tag.metadata or {}).get(b"PARQUET:field_id") == b"3"
        raw = pq.ParquetFile(path).metadata.schema.column(0)
        assert raw is not None  # footer parses with ids attached

    def test_nested_schema_gate_and_table_schema(self, spark, tmp_path):
        root = str(tmp_path / "gate")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(1, [1.0])], "k long, e array<double>").coalesce(1))
        # drifted element type refuses loudly
        with pytest.raises(ValueError, match="differs"):
            w.append(spark.createDataFrame(
                [(2, ["x"])], "k long, e array<string>").coalesce(1))
        # identical nested schema appends fine
        w.append(spark.createDataFrame(
            [(2, [2.0, 3.0])], "k long, e array<double>").coalesce(1))
        st = w.table_schema()
        assert st is not None
        assert st["e"].dataType.simpleString() == "array<double>"
        assert IcebergTable(root).snapshot(spark).count() == 2

    def test_upsert_and_cow_on_nested_table(self, spark, tmp_path):
        """The lakehouse write matrix holds for nested columns: keyed
        equality-delete upsert and a COW delete both round-trip."""
        root = str(tmp_path / "nup")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(1, [1.0, 1.0]), (2, [2.0, 2.0]), (3, [3.0, 3.0])],
            "k long, emb array<double>").coalesce(1))
        r = w.upsert_by_key(spark, spark.createDataFrame(
            [(2, [9.0, 9.0]), (4, [4.0, 4.0])],
            "k long, emb array<double>").coalesce(1), ["k"])
        assert r["rows_upserted"] == 2
        got = {
            (x["k"], tuple(x["emb"]))
            for x in IcebergTable(root).snapshot(spark).collect()
        }
        assert got == {(1, (1.0, 1.0)), (2, (9.0, 9.0)),
                       (3, (3.0, 3.0)), (4, (4.0, 4.0))}
        w.optimize(spark)  # purge the delete strata
        res = w.delete(spark, "k = 1")
        assert res["rows_deleted"] == 1
        assert IcebergTable(root).snapshot(spark).count() == 3


class TestPartitionTransforms:
    """Round-12 verdict item 3: non-identity partition transforms on
    append — day/month/year/hour (epoch arithmetic), bucket[N] (the
    spec's murmur3, pinned to Appendix B's test vectors), truncate[W]
    — with manifest partition values foreign engines prune by, and a
    reader-side transform pruning tier."""

    def test_days_transform_append_inherit_and_prune(
        self, spark, tmp_path
    ):
        import datetime

        root = str(tmp_path / "days")
        w = IcebergTableWriter(root)
        rows = [
            (i, datetime.date(1995, 1, 1 + i % 3)) for i in range(30)
        ]
        w.append(
            spark.createDataFrame(rows, "k long, d date").coalesce(1),
            partition_by=["days(d)"],
        )
        t = IcebergTable(root)
        # the spec records the real transform
        spec = t.meta["partition-specs"][0]["fields"][0]
        assert spec["transform"] == "day" and spec["name"] == "d_day"
        # one file per day, each with the epoch-day partition value
        st = t._prunable_state()
        days = sorted(
            raw["d_day"] for _b, _pv, raw in st.values()
        )
        epoch_jan1 = (datetime.date(1995, 1, 1)
                      - datetime.date(1970, 1, 1)).days
        assert days == [epoch_jan1, epoch_jan1 + 1, epoch_jan1 + 2]
        # full content round-trips (source column stays in the bytes)
        assert t.snapshot(spark).count() == 30
        # transform pruning: a one-day range opens exactly one file
        lo = hi = datetime.date(1995, 1, 2)
        assert len(t.live_paths(skip=[("d", lo, hi)])) == 1
        assert t.snapshot(spark, skip=[("d", lo, hi)]).count() == 10
        # a later append INHERITS the transform spec
        w.append(spark.createDataFrame(
            [(99, datetime.date(1995, 1, 9))], "k long, d date"
        ).coalesce(1))
        t2 = IcebergTable(root)
        assert t2.snapshot(spark).count() == 31
        assert len(t2.live_paths(
            skip=[("d", datetime.date(1995, 1, 9),
                   datetime.date(1995, 1, 9))]
        )) == 1

    def test_bucket_transform_matches_spec_vectors_and_prunes(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.operators.iceberg_writer import (
            bucket_value, murmur3_32,
        )

        # Appendix B pins the hash; bucketing masks the sign bit
        assert murmur3_32(b"iceberg") == 1210000089
        assert bucket_value(34, "long", 4) == 2017239379 % 4
        assert bucket_value(34, "int", 4) == bucket_value(34, "long", 4)

        root = str(tmp_path / "bkt")
        w = IcebergTableWriter(root)
        w.append(
            spark.createDataFrame(
                [(i, f"r{i}") for i in range(100)], "k long, v string"
            ).coalesce(1),
            partition_by=["bucket(4, k)"],
        )
        t = IcebergTable(root)
        spec = t.meta["partition-specs"][0]["fields"][0]
        assert spec["transform"] == "bucket[4]"
        st = t._prunable_state()
        assert {raw["k_bucket"] for _b, _pv, raw in st.values()} <= {
            0, 1, 2, 3
        }
        assert t.snapshot(spark).count() == 100
        # equality on the source column prunes to ONE bucket's file —
        # and the kept file must actually hold the row
        kept = t.live_paths(skip=[("k", 34, 34)])
        assert len(kept) == 1
        assert t.snapshot(spark, skip=[("k", 34, 34)]).where(
            "k = 34"
        ).count() == 1
        # a RANGE cannot prune on bucket (values scatter) — all kept
        assert len(t.live_paths(skip=[("k", 10, 90)])) == len(st)

    def test_truncate_and_hour_transforms(self, spark, tmp_path):
        import datetime

        root = str(tmp_path / "tr")
        w = IcebergTableWriter(root)
        w.append(
            spark.createDataFrame(
                [(-5, "alpha"), (7, "alps"), (23, "beta")],
                "k long, s string",
            ).coalesce(1),
            partition_by=["truncate(10, k)", "truncate(2, s)"],
        )
        t = IcebergTable(root)
        st = t._prunable_state()
        got = sorted(
            (raw["k_trunc"], raw["s_trunc"])
            for _b, _pv, raw in st.values()
        )
        # iceberg truncate uses FLOORED mod: -5 → -10
        assert got == [(-10, "al"), (0, "al"), (20, "be")]
        assert len(t.live_paths(skip=[("s", "be", "bz")])) == 1
        assert len(t.live_paths(skip=[("k", -10, -1)])) == 1

        root2 = str(tmp_path / "hr")
        w2 = IcebergTableWriter(root2)
        ts = [
            (1, datetime.datetime(2020, 1, 1, 0, 30)),
            (2, datetime.datetime(2020, 1, 1, 0, 45)),
            (3, datetime.datetime(2020, 1, 1, 5, 10)),
        ]
        w2.append(
            spark.createDataFrame(ts, "k long, t timestamp").coalesce(1),
            partition_by=["hours(t)"],
        )
        t2 = IcebergTable(root2)
        st2 = t2._prunable_state()
        hours = sorted(raw["t_hour"] for _b, _pv, raw in st2.values())
        base = int(datetime.datetime(
            2020, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp()) // 3600
        assert hours == [base, base + 5]
        assert t2.snapshot(spark).count() == 3

    def test_void_transform_spec_appends_and_mutates(
        self, spark, tmp_path
    ):
        """The spec's void transform — what a dropped v1 partition
        field becomes: every row lands under the null partition value,
        appends and COW mutations work (a foreign table with an
        evolved-away partition field stays writable)."""
        import json as _json

        root = str(tmp_path / "void")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string").coalesce(1))
        # rewrite the spec to a void field, as spec evolution would
        base_v, cur = w._current()
        md = _json.loads(_json.dumps(cur))
        md["partition-specs"] = [{"spec-id": 0, "fields": [
            {"name": "k_void", "transform": "void",
             "source-id": 1, "field-id": 1000}]}]
        w._publish_metadata(md, base_v)
        w.append(spark.createDataFrame(
            [(3, "c")], "k long, v string").coalesce(1))
        t = IcebergTable(root)
        assert t.snapshot(spark).count() == 3
        st = t._prunable_state()
        assert all(
            raw.get("k_void") is None
            for _b, _pv, raw in st.values()
            if "k_void" in raw
        )
        assert w.delete(spark, "k = 1")["rows_deleted"] == 1
        assert t.snapshot(spark).count() == 3  # pinned pre-delete read

    def test_ctas_with_transform_partitioning(self, spark, tmp_path):
        """CREATE TABLE … FROM iceberg … PARTITION BY (days(d),
        bucket(4, k)) AS SELECT … — the SQL surface reaches the
        round-12 transforms (the old regex choked on nested parens);
        non-iceberg formats refuse transform syntax loudly."""
        from algebraicdb_spark.engine import AdtError, Engine

        eng = Engine(spark)
        root = str(tmp_path / "ctas_tf")
        eng.sql(
            f"CREATE TABLE ctf FROM iceberg LOCATION '{root}' "
            "PARTITION BY (days(d), bucket(4, k)) AS "
            "SELECT CAST(id AS LONG) AS k, "
            "DATE_ADD(DATE '1995-01-01', CAST(id % 3 AS INT)) AS d "
            "FROM RANGE(30)"
        )
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM ctf").collect()[0]["n"] == 30
        t = IcebergTable(root)
        tf = {f["transform"] for f in
              t.meta["partition-specs"][0]["fields"]}
        assert tf == {"day", "bucket[4]"}
        with pytest.raises(AdtError, match="iceberg spec feature"):
            eng.sql(
                f"CREATE TABLE bad FROM delta LOCATION "
                f"'{tmp_path / 'bad'}' PARTITION BY (days(d)) AS "
                "SELECT DATE '1995-01-01' AS d"
            )

    def test_temporal_transform_type_gate(self, spark, tmp_path):
        w = IcebergTableWriter(str(tmp_path / "gatey"))
        with pytest.raises(NotImplementedError, match="over"):
            w.append(
                spark.createDataFrame([(1, "x")], "k long, s string"),
                partition_by=["days(s)"],
            )


class TestPartitionedUpsert:
    """Round-12 verdict item 2: CDC upsert into a PARTITIONED table —
    partition-scoped equality-delete files (one per touched
    partition, entry partition record filled), still O(batch). Legal
    iff every partition source column is in the key (same key ⇒ same
    partition); anything else refuses loudly."""

    @staticmethod
    def _orders_like(spark, tmp_path, name):
        w = IcebergTableWriter(str(tmp_path / name))
        rows = [(i, f"r{i % 3}", float(i)) for i in range(12)]
        w.append(
            spark.createDataFrame(
                rows, "o_id long, region string, amt double"
            ).coalesce(1),
            partition_by=["region"],
        )
        return w

    def test_partitioned_upsert_scopes_delete_files(
        self, spark, tmp_path
    ):
        w = self._orders_like(spark, tmp_path, "pu")
        # key includes the partition source → legal
        r = w.upsert_by_key(
            spark,
            spark.createDataFrame(
                [(1, "r1", 99.0), (50, "r2", 50.0)],
                "o_id long, region string, amt double",
            ).coalesce(1),
            ["o_id", "region"],
        )
        assert r["rows_upserted"] == 2
        # the touched partitions (r1, r2) each got their own scoped
        # delete file
        assert r["delete_files"] == 2
        t = IcebergTable(w.path)
        _data, _pos, eq, _dv = t._files(None)
        assert len(eq) == 2
        got = {
            (x["o_id"], x["region"], x["amt"])
            for x in t.snapshot(spark).collect()
        }
        assert (1, "r1", 99.0) in got and (50, "r2", 50.0) in got
        assert (1, "r1", 1.0) not in got
        assert len(got) == 13
        # the delete-manifest entries carry the partition record
        st = t._prunable_state()
        regions = {raw.get("region") for _b, _pv, raw in st.values()}
        assert regions == {"r0", "r1", "r2"}

    def test_partition_source_outside_key_refuses(self, spark, tmp_path):
        w = self._orders_like(spark, tmp_path, "puref")
        with pytest.raises(NotImplementedError, match="not in the key"):
            w.upsert_by_key(
                spark,
                spark.createDataFrame(
                    [(1, "r1", 99.0)],
                    "o_id long, region string, amt double",
                ).coalesce(1),
                ["o_id"],
            )

    def test_streaming_upsert_committer_partitioned_target(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.streaming.sink import upsert_committer

        w = self._orders_like(spark, tmp_path, "pustream")
        commit = upsert_committer(w, "cdc", ["o_id", "region"])
        b0 = spark.createDataFrame(
            [(2, "r2", 22.0), (100, "r0", 1.0)],
            "o_id long, region string, amt double").coalesce(1)
        commit(b0, 0)
        commit(b0, 0)  # redelivered: no-op on the replay mark
        t = IcebergTable(w.path)
        assert len(t.snapshots()) == 2
        got = {
            (x["o_id"], x["amt"])
            for x in t.snapshot(spark).where("region = 'r2'").collect()
        }
        assert (2, 22.0) in got and (2, 2.0) not in got

    def test_transform_partitioned_upsert(self, spark, tmp_path):
        """bucket[N]-partitioned target: the transform is a function
        of the key column, so scoped deletes stay correct."""
        w = IcebergTableWriter(str(tmp_path / "pub"))
        w.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(20)], "k long, v double"
            ).coalesce(1),
            partition_by=["bucket(4, k)"],
        )
        r = w.upsert_by_key(
            spark,
            spark.createDataFrame(
                [(3, 33.0), (7, 77.0)], "k long, v double"
            ).coalesce(1),
            ["k"],
        )
        assert r["rows_upserted"] == 2
        t = IcebergTable(w.path)
        got = {
            (x["k"], x["v"]) for x in t.snapshot(spark).collect()
        }
        assert (3, 33.0) in got and (7, 77.0) in got
        assert (3, 3.0) not in got and len(got) == 20


class TestPartitionedPurgeAndCow:
    """The lifecycle a partitioned CDC table needs: upserts accumulate
    equality-delete strata → OPTIMIZE (round 12: now partition-aware)
    purges them → COW mutations work again; and COW rewrites restage
    under TRANSFORM specs too (the spec fields recompute from the
    restaged rows)."""

    def test_optimize_purges_partitioned_upsert_strata(
        self, spark, tmp_path
    ):
        w = IcebergTableWriter(str(tmp_path / "pp"))
        w.append(
            spark.createDataFrame(
                [(i, f"r{i % 2}", float(i)) for i in range(8)],
                "k long, region string, v double",
            ).coalesce(1),
            partition_by=["region"],
        )
        w.upsert_by_key(spark, spark.createDataFrame(
            [(1, "r1", 11.0)], "k long, region string, v double"
        ).coalesce(1), ["k", "region"])
        w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "r0", 22.0)], "k long, region string, v double"
        ).coalesce(1), ["k", "region"])
        t = IcebergTable(w.path)
        assert len(t._files(None)[2]) == 2  # two live eq strata
        # COW mutation under live strata routes users to the purge
        with pytest.raises(NotImplementedError, match="purge"):
            w.delete(spark, "k = 3")
        sid = w.optimize(spark)
        assert sid is not None
        t2 = IcebergTable(w.path)
        _d, pos, eq, _dv = t2._files(None)
        assert not pos and not eq
        got = {
            (r["k"], r["v"]) for r in t2.snapshot(spark).collect()
        }
        assert (1, 11.0) in got and (2, 22.0) in got and len(got) == 8
        # partition records survive the purge rewrite: pruning works
        st = t2._prunable_state()
        assert {raw.get("region") for _b, _pv, raw in st.values()} == {
            "r0", "r1"
        }
        # and COW mutation works again
        assert w.delete(spark, "k = 3")["rows_deleted"] == 1

    def test_cow_mutation_on_transform_partitioned(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg_writer import (
            bucket_value,
        )

        w = IcebergTableWriter(str(tmp_path / "tcow"))
        w.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(16)], "k long, v double"
            ).coalesce(1),
            partition_by=["bucket(4, k)"],
        )
        assert w.delete(spark, "k = 5")["rows_deleted"] == 1
        assert w.update(
            spark, {"v": "v * 10"}, "k = 6"
        )["rows_updated"] == 1
        t = IcebergTable(w.path)
        got = {(r["k"], r["v"]) for r in t.snapshot(spark).collect()}
        assert (6, 60.0) in got and all(k != 5 for k, _v in got)
        assert len(got) == 15
        # rewritten entries carry RECOMPUTED bucket values — equality
        # pruning on the source column still opens one file set
        kept = t.live_paths(skip=[("k", 6, 6)])
        st = t._prunable_state()
        want = bucket_value(6, "long", 4)
        assert all(
            st[p][2].get("k_bucket") == want for p in kept
        )


class TestUpsertStatement:
    """UPSERT INTO t BY KEY (…) [TXN ('app', v)] SELECT … — the SQL
    surface for the keyed equality-delete upsert, routed through the
    same refusal matrix as the Python path."""

    @staticmethod
    def _attach(spark, tmp_path, name="ut"):
        from algebraicdb_spark.engine import Engine

        w = IcebergTableWriter(str(tmp_path / name))
        w.append(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).coalesce(1))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE {name} FROM iceberg LOCATION '{w.path}'")
        return eng, w

    def test_upsert_statement_replaces_and_inserts(self, spark, tmp_path):
        eng, w = self._attach(spark, tmp_path)
        eng.sql(
            "UPSERT INTO ut BY KEY (k) "
            "SELECT * FROM VALUES (CAST(2 AS LONG), 'B'), "
            "(CAST(9 AS LONG), 'z') AS s(k, v)"
        )
        assert {
            (r["k"], r["v"])
            for r in eng.sql("SELECT * FROM ut").collect()
        } == {(1, "a"), (2, "B"), (3, "c"), (9, "z")}
        # the mutation landed as ONE equality-delete snapshot, no
        # rewrite: the original data file is still live
        t = IcebergTable(w.path)
        _data, _pos, eq, _dv = t._files(None)
        assert len(eq) == 1

    def test_upsert_statement_txn_mark_is_exactly_once(
        self, spark, tmp_path
    ):
        eng, w = self._attach(spark, tmp_path, "utx")
        stmt = (
            "UPSERT INTO utx BY KEY (k) TXN ('cdc', 7) "
            "SELECT CAST(5 AS LONG) AS k, 'e' AS v"
        )
        eng.sql(stmt)
        eng.sql(stmt)  # redelivered: no-op on the replay mark
        t = IcebergTable(w.path)
        assert len(t.snapshots()) == 2
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM utx WHERE k = 5"
        ).collect()[0]["n"] == 1

    def test_upsert_statement_refusals(self, spark, tmp_path):
        from algebraicdb_spark.engine import AdtError, Engine

        eng, _w = self._attach(spark, tmp_path, "ur")
        with pytest.raises(AdtError, match="share a key"):
            eng.sql(
                "UPSERT INTO ur BY KEY (k) "
                "SELECT * FROM VALUES (CAST(1 AS LONG), 'x'), "
                "(CAST(1 AS LONG), 'y') AS s(k, v)"
            )
        with pytest.raises(AdtError, match="not an ATTACHed"):
            eng.sql(
                "UPSERT INTO nosuch BY KEY (k) "
                "SELECT CAST(1 AS LONG) AS k, 'x' AS v"
            )
        # a writer without keyed upserts refuses the statement by name
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        d = DeltaTableWriter(str(tmp_path / "dl"))
        d.append(spark.createDataFrame(
            [(1, "a")], "k long, v string").coalesce(1))
        e2 = Engine(spark)
        e2.sql(f"ATTACH TABLE dl FROM delta LOCATION '{d.path}'")
        with pytest.raises(AdtError, match="UPSERT dl: not available on delta"):
            e2.sql(
                "UPSERT INTO dl BY KEY (k) "
                "SELECT CAST(1 AS LONG) AS k, 'x' AS v"
            )


class TestIcebergChangesCdf:
    """Row-level change feed on iceberg (round 12) — the leg that
    twins the delta ``changes_cdf``. Every write
    shape this repo's writer commits resolves: append inserts, COW
    diffs (EXCEPT ALL cancellation), replace skipped, MoR position
    deletes (exact preimages from the delete files' row identity),
    and equality-delete upserts (preimages from the parent snapshot)."""

    @staticmethod
    def _cdf_rows(df):
        return {
            (r["k"], r["v"], r["_change_type"]) for r in df.collect()
        }

    def test_append_cow_and_replace_windows(self, spark, tmp_path):
        w = IcebergTableWriter(str(tmp_path / "cdf"))
        s0 = w.append(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).coalesce(1))
        t = IcebergTable(w.path)
        s1 = w.append(spark.createDataFrame(
            [(4, "d")], "k long, v string").coalesce(1))
        # append window: plain inserts
        got = self._cdf_rows(
            IcebergTable(w.path).changes_cdf(spark, s0, s1)
        )
        assert got == {(4, "d", "insert")}
        # COW delete: only the deleted row surfaces (the rewrite's
        # carried-through rows cancel in the EXCEPT ALL)
        res = w.delete(spark, "k = 2")
        s2 = res["version"]
        got = self._cdf_rows(
            IcebergTable(w.path).changes_cdf(spark, s1, s2)
        )
        assert got == {(2, "b", "delete")}
        # COW update labels pre/post
        s3 = w.update(spark, {"v": "upper(v)"}, "k = 1")["version"]
        got = self._cdf_rows(
            IcebergTable(w.path).changes_cdf(spark, s2, s3)
        )
        assert got == {(1, "a", "update_preimage"),
                       (1, "A", "update_postimage")}
        # compaction is invisible; the whole window composes
        s4 = w.optimize(spark)
        full = IcebergTable(w.path).changes_cdf(spark, s0, s4)
        assert self._cdf_rows(full) == {
            (4, "d", "insert"),
            (2, "b", "delete"),
            (1, "a", "update_preimage"),
            (1, "A", "update_postimage"),
        }
        # _commit_version carries the snapshot ids oldest→newest
        vers = sorted({
            r["_commit_version"] for r in full.collect()
        })
        assert vers == sorted([s1, s2, s3])
        # unchanged window → None
        assert IcebergTable(w.path).changes_cdf(spark, s4, s4) is None

    def test_mor_position_delete_and_update_windows(
        self, spark, tmp_path
    ):
        w = IcebergTableWriter(str(tmp_path / "cdfm"))
        s0 = w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k long, v double"
        ).coalesce(1))
        s1 = w.delete(spark, "k IN (1, 4)", mode="mor")["version"]
        t = IcebergTable(w.path)
        got = {
            (r["k"], r["v"], r["_change_type"])
            for r in t.changes_cdf(spark, s0, s1).collect()
        }
        assert got == {(1, 1.0, "delete"), (4, 4.0, "delete")}
        s2 = w.update(
            spark, {"v": "v + 100"}, "k = 2", mode="mor"
        )["version"]
        got = {
            (r["k"], r["v"], r["_change_type"])
            for r in IcebergTable(w.path)
            .changes_cdf(spark, s1, s2).collect()
        }
        assert got == {(2, 2.0, "update_preimage"),
                       (2, 102.0, "update_postimage")}

    def test_upsert_window_derives_preimages_from_parent(
        self, spark, tmp_path
    ):
        w = IcebergTableWriter(str(tmp_path / "cdfu"))
        s0 = w.append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string").coalesce(1))
        s1 = w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "B"), (9, "z")], "k long, v string").coalesce(1),
            ["k"])["version"]
        got = self._cdf_rows(
            IcebergTable(w.path).changes_cdf(spark, s0, s1)
        )
        # key 2 existed → pre+post; key 9 is a pure insert → post only
        assert got == {(2, "b", "update_preimage"),
                       (2, "B", "update_postimage"),
                       (9, "z", "update_postimage")}
        # a second upsert re-targeting key 2 derives its preimage from
        # the PARENT snapshot (earlier strata applied — the old (2,b)
        # never re-emits)
        s2 = w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "BB")], "k long, v string").coalesce(1),
            ["k"])["version"]
        got = self._cdf_rows(
            IcebergTable(w.path).changes_cdf(spark, s1, s2)
        )
        assert got == {(2, "B", "update_preimage"),
                       (2, "BB", "update_postimage")}

    def test_expired_window_refuses(self, spark, tmp_path):
        w = IcebergTableWriter(str(tmp_path / "cdfx"))
        s0 = w.append(spark.createDataFrame(
            [(1, "a")], "k long, v string").coalesce(1))
        w.delete(spark, "k = 1")
        w.append(spark.createDataFrame(
            [(2, "b")], "k long, v string").coalesce(1))
        w.vacuum(retain_versions=1)
        t = IcebergTable(w.path)
        with pytest.raises(ValueError, match="ancestor|reclaimed|not in"):
            t.changes_cdf(spark, s0)


class TestReviewFixes:
    """Round-12 self-review findings, pinned."""

    def test_bucket_hashes_aware_timestamps_as_instants(self):
        """A +05:00 timestamp must hash the same micros as its UTC
        equivalent — building the epoch with the value's own tzinfo
        shifted the serialization by the UTC offset."""
        import datetime as dt
        import struct as st_

        from algebraicdb_spark.operators.iceberg_writer import (
            _bucket_bytes, bucket_value,
        )

        plus5 = dt.timezone(dt.timedelta(hours=5))
        v = dt.datetime(2024, 1, 1, 5, 0, 0, tzinfo=plus5)
        utc = dt.datetime(2024, 1, 1, 0, 0, 0,
                          tzinfo=dt.timezone.utc)
        assert _bucket_bytes(v, "timestamptz") == _bucket_bytes(
            utc, "timestamptz"
        )
        micros = int(utc.timestamp() * 1_000_000)
        assert _bucket_bytes(v, "timestamptz") == st_.pack(
            "<q", micros
        )
        assert bucket_value(v, "timestamptz", 8) == bucket_value(
            micros, "timestamptz", 8
        )

    def test_hour_transform_floors_pre_epoch_instants(self):
        """hour(1969-12-31 23:59:59.5) is -1 per the spec's floorDiv;
        int(timestamp()) truncation toward zero said 0."""
        import datetime as dt

        t = IcebergTable.__new__(IcebergTable)  # static helper only
        v = dt.datetime(1969, 12, 31, 23, 59, 59, 500000,
                        tzinfo=dt.timezone.utc)
        assert t._py_transform(v, "hour", None, None) == -1
        v2 = dt.datetime(1970, 1, 1, 5, 30, tzinfo=dt.timezone.utc)
        assert t._py_transform(v2, "hour", None, None) == 5

    def test_partition_evolution_refuses_scoped_writes(
        self, spark, tmp_path
    ):
        """A second partition spec (partition evolution) means files
        under the OLD spec escape partition-scoped equality deletes —
        partitioned upsert still refuses loudly (the spec's own
        applicability rule). Round 13 lifted the OTHER gates: COW
        mutation now rewrites each file under ITS manifest's spec (see
        tests/test_round13_iceberg_evolution.py), so the delete below
        SUCCEEDS and the table stays readable."""
        import json as _json

        w = IcebergTableWriter(str(tmp_path / "pevo"))
        w.append(
            spark.createDataFrame(
                [(1, "r0", 1.0)], "k long, region string, v double"
            ).coalesce(1),
            partition_by=["region"],
        )
        base_v, cur = w._current()
        md = _json.loads(_json.dumps(cur))
        md["partition-specs"] = md["partition-specs"] + [{
            "spec-id": 1,
            "fields": [{"name": "k_bucket", "transform": "bucket[4]",
                        "source-id": 1, "field-id": 1001}],
        }]
        md["default-spec-id"] = 1
        md["last-partition-id"] = 1001
        w._publish_metadata(md, base_v)
        src = spark.createDataFrame(
            [(1, "r0", 9.0)], "k long, region string, v double"
        ).coalesce(1)
        with pytest.raises(NotImplementedError, match="evolution"):
            w.upsert_by_key(spark, src, ["k"])
        res = w.delete(spark, "k = 1")
        assert res["rows_deleted"] == 1
        # the one row is gone: a zero-file snapshot reads as an empty
        # frame under the table schema
        snap = w.reader().snapshot(spark)
        assert snap.count() == 0
        assert snap.columns == ["k", "region", "v"]

    def test_manifest_list_rows_carry_foreign_default_spec_id(
        self, spark, tmp_path
    ):
        """Appends to a foreign table whose default-spec-id is not 0
        must stamp THAT id on their manifest-list rows — a reader
        decoding partition records against spec 0 would prune
        wrongly."""
        import json as _json

        w = IcebergTableWriter(str(tmp_path / "sid"))
        w.append(
            spark.createDataFrame(
                [(1, "r0")], "k long, region string").coalesce(1),
            partition_by=["region"],
        )
        base_v, cur = w._current()
        md = _json.loads(_json.dumps(cur))
        # renumber the ONE spec to id 3, as a foreign catalog might
        md["partition-specs"][0]["spec-id"] = 3
        md["default-spec-id"] = 3
        w._publish_metadata(md, base_v)
        sid = w.append(spark.createDataFrame(
            [(2, "r1")], "k long, region string").coalesce(1))
        t = IcebergTable(w.path)
        snap = t._snapshot(None)
        rows = AvroFileReader(
            t._resolve(snap["manifest-list"])
        ).records
        new_m = next(
            r for r in rows if r["added_snapshot_id"] == sid
        )
        assert new_m["partition_spec_id"] == 3
        # the upsert's NEW manifests stamp it too; rows carried from
        # the spec-0-era commits keep their original id verbatim
        up = w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "r1")], "k long, region string").coalesce(1),
            ["k", "region"])["version"]
        t2 = IcebergTable(w.path)
        rows2 = AvroFileReader(
            t2._resolve(t2._snapshot(None)["manifest-list"])
        ).records
        mine = [r for r in rows2 if r["added_snapshot_id"] == up]
        assert mine and all(
            r["partition_spec_id"] == 3 for r in mine
        )

    def test_cdf_upsert_onto_emptied_table_is_postimage_only(
        self, spark, tmp_path
    ):
        w = IcebergTableWriter(str(tmp_path / "cdfe"))
        w.append(spark.createDataFrame(
            [(1, "a")], "k long, v string").coalesce(1))
        s1 = w.delete(spark, "TRUE")["version"]
        s2 = w.upsert_by_key(spark, spark.createDataFrame(
            [(2, "b")], "k long, v string").coalesce(1),
            ["k"])["version"]
        got = {
            (r["k"], r["v"], r["_change_type"])
            for r in IcebergTable(w.path)
            .changes_cdf(spark, s1, s2).collect()
        }
        assert got == {(2, "b", "update_postimage")}


class TestIcebergTimestampTieBreak:
    def test_equal_timestamp_resolves_by_snapshot_log_order(
        self, spark, tmp_path
    ):
        """Two snapshots sharing one timestamp-ms with DESCENDING ids
        (foreign catalogs assign random ids): the later snapshot-log
        entry wins, not max(snapshot-id)."""
        from datetime import datetime, timezone

        from algebraicdb_spark.engine import Engine

        root = str(tmp_path / "tie")
        meta_dir = os.path.join(root, "metadata")
        os.makedirs(meta_dir)
        t0 = int(datetime(
            2026, 1, 1, tzinfo=timezone.utc
        ).timestamp() * 1000)

        def snap(sid, seq):
            return {
                "snapshot-id": sid, "sequence-number": seq,
                "timestamp-ms": t0, "manifest-list": "absent.avro",
                "summary": {"operation": "append"}, "schema-id": 0,
            }

        md = {
            "format-version": 2, "table-uuid": "u", "location": root,
            "last-sequence-number": 2, "last-updated-ms": t0,
            "last-column-id": 1,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": False,
                 "type": "long"}]}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0, "last-partition-id": 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0, "properties": {},
            "current-snapshot-id": 100,
            "snapshots": [snap(900, 1), snap(100, 2)],
            "snapshot-log": [
                {"timestamp-ms": t0, "snapshot-id": 900},
                {"timestamp-ms": t0, "snapshot-id": 100},
            ],
            "metadata-log": [],
        }
        with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
            json.dump(md, f)
        with open(
            os.path.join(meta_dir, "version-hint.text"), "w"
        ) as f:
            f.write("1")

        eng = Engine(spark)
        att = {"fmt": "iceberg", "path": root}
        assert eng._version_at_timestamp(
            att, "2026-01-01 00:00:01"
        ) == 100
        # before the first commit still refuses loudly
        from algebraicdb_spark.engine import AdtError

        with pytest.raises(AdtError, match="no surviving"):
            eng._version_at_timestamp(att, "2025-12-31 00:00:00")
