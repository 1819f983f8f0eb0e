"""Round 13: Iceberg PARTITION EVOLUTION.

Round 12 gated multi-spec tables out of COW mutation and OPTIMIZE; the
round-12 verdict ranked lifting those gates second. The semantics, per
the Iceberg spec: a table accumulates partition-specs over its life
(every ``ALTER TABLE … ADD PARTITION FIELD`` mints one); each data
file belongs to the spec of the manifest that lists it, new files use
the DEFAULT spec, and a rewrite must keep survivors' partition records
keyed to THEIR spec — re-labeling them under the default spec is
silent pruning corruption in every conformant planner.

The fixture is the verdict's prescription: identity(cat) → day(d)
evolution, the second spec hand-written into the metadata exactly as a
full client's ADD PARTITION FIELD leaves it (this writer deliberately
has no evolve statement — evolution arrives from outside; the point is
that scans, COW DELETE/UPDATE, OPTIMIZE, the change feed, and
retention all COMPOSE with it afterwards)."""

import datetime
import json
import os

import pytest

from algebraicdb_spark.operators.iceberg import (
    AvroFileReader,
    IcebergTable,
)
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter


def _evolved_table(spark, tmp_path, name="ev"):
    """spec 0 = identity(cat) with 6 rows in 2 categories, then the
    hand-written evolution to spec 1 = day(d), then 4 more rows landing
    under the new spec."""
    root = str(tmp_path / name)
    w = IcebergTableWriter(root)
    df0 = spark.createDataFrame(
        [
            (i, "a" if i % 2 == 0 else "b",
             datetime.date(2024, 1, 1 + i), float(i))
            for i in range(6)
        ],
        "k long, cat string, d date, v double",
    )
    w.append(df0, partition_by=["cat"])
    base_v, cur = w._current()
    md = dict(cur)
    d_id = next(
        f["id"] for f in md["schemas"][0]["fields"] if f["name"] == "d"
    )
    md["partition-specs"] = list(md["partition-specs"]) + [{
        "spec-id": 1,
        "fields": [{"name": "d_day", "transform": "day",
                    "source-id": d_id, "field-id": 1001}],
    }]
    md["default-spec-id"] = 1
    md["last-partition-id"] = 1001
    with open(
        os.path.join(w.meta_dir, f"v{base_v + 1}.metadata.json"), "w"
    ) as f:
        json.dump(md, f)
    with open(os.path.join(w.meta_dir, "version-hint.text"), "w") as f:
        f.write(str(base_v + 1))
    w.append(spark.createDataFrame(
        [
            (10 + i, "c", datetime.date(2024, 2, 1 + i), 100.0 + i)
            for i in range(4)
        ],
        "k long, cat string, d date, v double",
    ))
    return w


def _manifest_specs(rdr: IcebergTable) -> list[tuple[int, int, int]]:
    """(partition_spec_id, existing+added, deleted) per DATA manifest
    of the current snapshot — read straight from the avro, no writer
    code in the loop."""
    snap = rdr._snapshot(None)
    out = []
    for r in AvroFileReader(rdr._resolve(snap["manifest-list"])).records:
        if int(r.get("content", 0) or 0) != 0:
            continue
        live = dead = 0
        for e in AvroFileReader(
            rdr._resolve(r["manifest_path"])
        ).records:
            if e.get("status", 0) == 2:
                dead += 1
            else:
                live += 1
        out.append((int(r.get("partition_spec_id", 0) or 0), live, dead))
    return sorted(out)


class TestEvolvedScan:
    def test_scan_spans_both_specs(self, spark, tmp_path):
        w = _evolved_table(spark, tmp_path)
        rdr = w.reader()
        snap = rdr.snapshot(spark)
        assert snap.count() == 10
        assert sorted(r["k"] for r in snap.collect()) == [
            0, 1, 2, 3, 4, 5, 10, 11, 12, 13,
        ]
        specs = {s for s, _l, _d in _manifest_specs(rdr)}
        assert specs == {0, 1}, "files live under BOTH specs"

    def test_new_files_carry_day_partition_records(self, spark, tmp_path):
        w = _evolved_table(spark, tmp_path)
        rdr = w.reader()
        snap = rdr._snapshot(None)
        recs_by_spec: dict[int, list[dict]] = {}
        for r in AvroFileReader(
            rdr._resolve(snap["manifest-list"])
        ).records:
            sid = int(r.get("partition_spec_id", 0) or 0)
            for e in AvroFileReader(
                rdr._resolve(r["manifest_path"])
            ).records:
                recs_by_spec.setdefault(sid, []).append(
                    dict(e["data_file"].get("partition") or {})
                )
        assert all("cat" in p for p in recs_by_spec[0])
        # day(d) = days since epoch, an int — 2024-02-01 = 19754
        assert all(
            isinstance(p.get("d_day"), int) for p in recs_by_spec[1]
        )
        epoch_feb1 = (
            datetime.date(2024, 2, 1) - datetime.date(1970, 1, 1)
        ).days
        assert min(
            p["d_day"] for p in recs_by_spec[1]
        ) == epoch_feb1

    def test_pruning_is_spec_safe_and_still_prunes(self, spark, tmp_path):
        w = _evolved_table(spark, tmp_path)
        rdr = w.reader()
        everything = rdr.live_paths()
        # skip on the OLD spec's identity column: old 'b' files prune
        # by partition value; new-spec files (whose records have no
        # 'cat') must NOT be pruned by the record tier — they survive
        # unless their column bounds disprove the range
        kept = rdr.live_paths(skip=[("cat", "a", "a")])
        assert set(kept) < set(everything)
        survivors = (
            spark.read.parquet(*kept)
            .where("cat = 'a'").count()
        )
        assert survivors == 3, "every cat='a' row is reachable"
        # skip on the NEW spec's source column: new files prune via the
        # day-transform tier, old files via their column bounds
        feb2 = datetime.date(2024, 2, 2)
        kept2 = rdr.live_paths(skip=[("d", feb2, feb2)])
        assert set(kept2) < set(everything)
        assert spark.read.parquet(*kept2).where(
            "d = DATE'2024-02-02'"
        ).count() == 1


class TestEvolvedMutation:
    def test_cow_delete_spans_specs_and_keeps_spec_ids(
        self, spark, tmp_path
    ):
        w = _evolved_table(spark, tmp_path)
        res = w.delete(spark, "k IN (1, 11)")
        assert res["rows_deleted"] == 2
        rdr = w.reader()
        snap = rdr.snapshot(spark)
        assert sorted(r["k"] for r in snap.collect()) == [
            0, 2, 3, 4, 5, 10, 12, 13,
        ]
        rows = _manifest_specs(rdr)
        # rewritten manifests exist under BOTH spec ids, and the
        # old-spec survivors kept partition records under spec 0
        assert {s for s, _l, _d in rows} == {0, 1}
        assert any(s == 0 and d > 0 for s, _l, d in rows), (
            "an old-spec file was tombstoned under ITS spec"
        )
        # survivors' records still answer old-spec pruning
        kept = rdr.live_paths(skip=[("cat", "b", "b")])
        assert spark.read.parquet(*kept).where(
            "cat = 'b'"
        ).count() == 2

    def test_cow_update_across_specs(self, spark, tmp_path):
        w = _evolved_table(spark, tmp_path)
        res = w.update(spark, {"v": "v + 1000"}, "k IN (0, 13)")
        assert res["rows_updated"] == 2
        got = {
            r["k"]: r["v"]
            for r in w.reader().snapshot(spark).collect()
        }
        assert got[0] == 1000.0 and got[13] == 1103.0
        assert got[1] == 1.0 and got[10] == 100.0

    def test_changes_cdf_over_the_evolved_window(self, spark, tmp_path):
        w = _evolved_table(spark, tmp_path)
        rdr = w.reader()
        parent = rdr.current_snapshot_id()
        w.delete(spark, "k IN (1, 11)")
        head = IcebergTable(w.path).current_snapshot_id()
        feed = IcebergTable(w.path).changes_cdf(spark, parent, head)
        got = sorted(
            (r["k"], r["_change_type"]) for r in feed.collect()
        )
        assert got == [(1, "delete"), (11, "delete")]

    def test_optimize_compacts_both_specs_into_default(
        self, spark, tmp_path
    ):
        w = _evolved_table(spark, tmp_path)
        snap_id = w.optimize(spark, target_files=1)
        assert snap_id is not None
        rdr = w.reader()
        assert rdr.snapshot(spark).count() == 10
        rows = _manifest_specs(rdr)
        live_by_spec: dict[int, int] = {}
        for s, live, _d in rows:
            live_by_spec[s] = live_by_spec.get(s, 0) + live
        # every LIVE file now belongs to the default spec; old-spec
        # manifests only hold tombstones
        assert live_by_spec.get(0, 0) == 0
        assert live_by_spec[1] >= 1
        # retention then reclaims the pre-compaction bytes and the
        # table stays readable
        w.vacuum(retain_versions=1)
        assert w.reader().snapshot(spark).count() == 10

    def test_upsert_gate_on_evolved_partitioned_table_stays(
        self, spark, tmp_path
    ):
        """The one round-12 gate that is genuinely correct to KEEP: a
        partition-scoped equality delete cannot reach older-spec
        files, so keyed upserts on an evolved PARTITIONED table refuse
        (the spec's own applicability rule)."""
        w = _evolved_table(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, "a", datetime.date(2024, 1, 2), 9.0)],
            "k long, cat string, d date, v double",
        )
        with pytest.raises(NotImplementedError, match="partition evolution"):
            w.upsert_by_key(spark, src, ["k", "cat", "d"])

    def test_sql_statements_on_evolved_attachment(
        self, spark, tables, tmp_path
    ):
        from algebraicdb_spark.engine import Engine

        w = _evolved_table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE ev FROM iceberg LOCATION '{w.path}'")
        eng.sql("DELETE FROM ev WHERE k = 12")
        assert eng.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"] == 9
        eng.sql("OPTIMIZE TABLE ev")
        assert eng.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"] == 9
