"""Semantic invariants for the warehouse-maintenance operators
(SCD2 build, CDC apply, deterministic reservoir sample). Value
correctness is oracle-gated (tools/verify_local.py); these pin the
interval algebra and sampling properties a value hash can't see."""

import pytest
from pyspark.sql import functions as F

# Heavyweight warehouse/txn-log end-to-end tier (multi-commit SCD2 /
# CDC / txn-log model checks): excluded from the default pytest run
# (see pyproject [tool.pytest.ini_options]); run with `pytest -m interop`.
pytestmark = pytest.mark.interop


def test_scd2_intervals_partition_time(spark, sf_dir):
    """Per user: versions are 1..n dense, intervals are adjacent
    (valid_to == next valid_from), non-overlapping, exactly one
    current row, and consecutive segments actually differ."""
    from algebraicdb_spark.operators.warehouse import scd2_history

    rows = scd2_history(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for hist in by_user.values():
        hist.sort(key=lambda r: r["version"])
        assert [r["version"] for r in hist] == list(range(1, len(hist) + 1))
        assert sum(r["is_current"] for r in hist) == 1
        assert hist[-1]["is_current"] == 1 and hist[-1]["valid_to_us"] is None
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]  # adjacency
            assert a["valid_from_us"] < a["valid_to_us"]  # positive span
            assert a["segment"] != b["segment"]  # real change


def test_scd2_collapses_duplicate_runs(spark, sf_dir):
    """Version count per user == number of value changes + 1, never
    the raw event count (consecutive duplicates must collapse)."""
    from algebraicdb_spark.operators.warehouse import scd2_history

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = e.groupBy("user_id").count().collect()
    raw_counts = {r["user_id"]: r["count"] for r in raw}
    hist = (
        scd2_history(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.max("version").alias("n"))
        .collect()
    )
    assert any(r["n"] < raw_counts[r["user_id"]] for r in hist), (
        "no user collapsed any run — change detector suspicious"
    )
    for r in hist:
        assert r["n"] <= raw_counts[r["user_id"]]


def test_cdc_final_state_matches_sequential_replay(spark, sf_dir):
    """Replay the changelog row-by-row on the driver (small fixture)
    and compare final liveness + value with the declarative fold."""
    from algebraicdb_spark.operators.warehouse import cdc_apply_log

    small = sf_dir.replace("0.01", "0.001")
    e = (
        spark.read.parquet(f"{small}/events.parquet")
        .orderBy("ts", "event_id")
        .collect()
    )
    state = {}
    for r in e:
        op = {"signup": "I", "error": "D"}.get(r["event_type"], "U")
        if op == "D":
            state.pop(r["user_id"], None)
        else:
            state[r["user_id"]] = r["value"]
    got = {r["user_id"]: r for r in cdc_apply_log(spark, small).collect()}
    assert set(got) == set(state)
    for uid, val in state.items():
        assert abs(got[uid]["final_value"] - val) < 1e-3


def test_reservoir_sample_is_uniform_and_stable(spark, sf_dir):
    from algebraicdb_spark.operators.warehouse import (
        SAMPLE_K,
        sample_reservoir,
    )

    a = sample_reservoir(spark, sf_dir).collect()
    b = sample_reservoir(spark, sf_dir).collect()
    assert len(a) == SAMPLE_K
    # deterministic: identical sample (and order) across runs
    assert [r["rank_hash"] for r in a] == [r["rank_hash"] for r in b]
    # without replacement: the full-row rank hash is tie-free — a tie
    # at the LIMIT boundary would make the cut engine-arbitrary
    hashes = {r["rank_hash"] for r in a}
    assert len(hashes) == SAMPLE_K
    # the sample is the GLOBAL hash top-k, not a per-partition artifact:
    # exactly k rows of the whole table hash <= the kth sampled hash
    from algebraicdb_spark.operators.warehouse import row_hash_input

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    all_hash = li.select(F.md5(row_hash_input(li)).alias("h"))
    kth = sorted(r["rank_hash"] for r in a)[-1]
    n_below = all_hash.where(F.col("h") <= kth).count()
    assert n_below == SAMPLE_K


def test_temporal_join_is_one_to_one(spark, sf_dir):
    """Every purchase must land in EXACTLY one SCD2 validity
    interval: the join is count-preserving."""
    from algebraicdb_spark.operators.warehouse import join_temporal_scd2

    rows = join_temporal_scd2(spark, sf_dir).collect()
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_purchases = e.where(F.col("event_type") == "purchase").count()
    assert sum(r["n_purchases"] for r in rows) == n_purchases
    # a purchase event IS a segment-change boundary or inside one; the
    # in-force segment at a purchase instant is 'purchase' itself only
    # when the purchase opened the interval — all segments can appear
    assert all(r["n_purchases"] > 0 for r in rows)


def _writer(path):
    """A standard Delta table at ``path`` (created on first commit)."""
    from algebraicdb_spark.operators.delta_writer import DeltaTableWriter

    return DeltaTableWriter(str(path))


def _data_files(t) -> set[str]:
    """Every parquet data file under the table root, outside the log."""
    import os

    out = set()
    for dirpath, _dirs, files in os.walk(t.path):
        if "_delta_log" in dirpath:
            continue
        out |= {
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        }
    return out


def _log_referenced(t) -> set[str]:
    """Resolved paths of every file any commit adds or removes."""
    import os
    from urllib.parse import unquote

    out = set()
    for _v, actions in t.reader()._json_commit_actions(0, None):
        for a in actions:
            for kind in ("add", "remove"):
                if kind in a:
                    out.add(os.path.join(t.path, unquote(a[kind]["path"])))
    return out


class TestTransactionalTable:
    """The Delta writer's transactional API invariants beyond what the
    registered sink/source keys exercise."""

    def _table(self, tmp_path):
        return _writer(tmp_path / "t")

    def test_empty_table_snapshot_errors(self, spark, tmp_path):
        import pytest as _pytest

        t = self._table(tmp_path)
        assert t.latest_version() == -1
        with _pytest.raises(ValueError, match="no live files"):
            t.snapshot(spark)

    def test_append_versions_and_snapshot_grow(self, spark, tables, tmp_path):
        t = self._table(tmp_path)
        r = tables["region"]
        assert t.append(r.limit(2)) == 0
        assert t.append(r.limit(3)) == 1
        assert t.snapshot(spark).count() == 5
        assert t.snapshot(spark, as_of=0).count() == 2

    def test_overwrite_requires_fresh_base(self, spark, tables, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import ConcurrentWriteError

        t = self._table(tmp_path)
        t.append(tables["region"])
        t.append(tables["region"])
        with _pytest.raises(ConcurrentWriteError, match="rebase"):
            t.overwrite(tables["nation"], expected_version=1)
        t.overwrite(tables["nation"], expected_version=2)
        assert t.snapshot(spark).count() == tables["nation"].count()
        # pre-overwrite history intact
        assert t.snapshot(spark, as_of=1).count() == 2 * tables["region"].count()

    def test_overwrite_tombstones_do_not_delete_bytes(
        self, spark, tables, tmp_path
    ):
        import os

        t = self._table(tmp_path)
        t.append(tables["region"])
        old_paths = t.live_paths()
        t.overwrite(tables["nation"], expected_version=1)
        assert old_paths[0] not in t.live_paths()
        assert os.path.exists(old_paths[0])  # vacuum is a separate concern

    def test_vacuum_reclaims_only_unreachable_versions(
        self, spark, tables, tmp_path
    ):
        import os

        import pytest as _pytest

        t = self._table(tmp_path)
        r = tables["region"]
        t.append(r)                             # v0
        t.overwrite(r.limit(3), 1)              # v1 (tombstones v0 files)
        t.append(r.limit(2))                    # v2
        v0_paths = t.live_paths(as_of=0)
        deleted = t.vacuum(retain_versions=2)   # keep v1, v2
        assert sorted(deleted) == sorted(v0_paths)
        assert not os.path.exists(v0_paths[0])
        # v1 and v2 snapshots still read
        assert t.snapshot(spark, as_of=1).count() == 3
        assert t.snapshot(spark, as_of=2).count() == 5
        # v0 time travel is gone, and says so via the read path
        with _pytest.raises(Exception):
            t.snapshot(spark, as_of=0).count()

    def test_vacuum_on_append_only_table_deletes_nothing(
        self, spark, tables, tmp_path
    ):
        t = self._table(tmp_path)
        t.append(tables["region"])
        t.append(tables["region"].limit(2))
        assert t.vacuum(retain_versions=1) == []  # every file still live

    def test_log_checkpoint_preserves_semantics_and_is_incremental(
        self, spark, tables, tmp_path
    ):
        """A log checkpoint is a pure read accelerator: every read —
        live set, txn high-water marks, time travel above AND below
        the checkpoint — answers identically, and a second checkpoint
        folds the first's state plus the tail."""
        t = self._table(tmp_path)
        r = tables["region"]
        t.append(r.limit(1))                    # v0
        t.append_txn(r.limit(2), "app", 5)      # v1 + txn mark
        t.overwrite(r.limit(4), 2)              # v2 tombstones v0-v1
        t.append(r.limit(3))                    # v3
        pre_live = t.live_paths()
        pre_v1 = t.live_paths(as_of=1)
        assert t.write_checkpoint() == 3
        assert t.live_paths() == pre_live
        assert t.reader().last_txn_version("app") == 5
        assert t.reader().last_txn_version("ghost") == -1
        # below the checkpoint the retained log still replays in full
        assert t.live_paths(as_of=1) == pre_v1
        assert t.snapshot(spark, as_of=3).count() == 4 + 3
        # a second checkpoint folds the first one's state + the tail
        t.append_txn(r.limit(1), "app", 9)      # v4
        assert t.reader().last_txn_version("app") == 9  # tail read
        assert t.write_checkpoint() == 4
        assert t.reader().last_txn_version("app") == 9  # ckpt read
        assert len(t.live_paths()) == len(pre_live) + 1

    def test_optimize_compacts_preserving_snapshot(
        self, spark, tables, tmp_path
    ):
        """OPTIMIZE bin-packs the live set into one file without
        changing a row; time travel still sees the small-file layout;
        VACUUM then reclaims it; a second OPTIMIZE is a no-op."""
        import os

        t = self._table(tmp_path)
        o = tables["orders"].select("o_orderkey", "o_totalprice")
        for k in range(3):
            t.append(o.filter(f"o_orderkey % 3 = {k}").coalesce(1))
        small = t.live_paths()
        assert len(small) == 3
        pre = t.snapshot(spark).groupBy("o_orderkey").count()
        assert t.optimize(spark) == 3  # commits as v3
        assert len(t.live_paths()) == 1
        post = t.snapshot(spark).groupBy("o_orderkey").count()
        assert pre.exceptAll(post).count() == 0
        assert post.exceptAll(pre).count() == 0
        # pre-compaction layout still time-travels…
        assert t.live_paths(as_of=2) == small
        # …until vacuum reclaims it (latest only ⇒ v0-v2 unreachable)
        assert sorted(t.vacuum(retain_versions=1)) == sorted(small)
        assert not any(os.path.exists(p) for p in small)
        assert t.snapshot(spark).count() == tables["orders"].count()
        # nothing left to compact
        assert t.optimize(spark) is None

    def test_zorder_nulls_cluster_at_the_low_edge(self, spark):
        """Null clustering-column values bucket to 0 (Delta's rule):
        they must co-locate with the MIN-value rows, never the max —
        F.least skips nulls, so the default has to apply first."""
        from pyspark.sql import functions as F

        from algebraicdb_spark.operators.txnlog import _zorder_clustered

        df = spark.createDataFrame(
            [(None,), (1,), (1000,)], "x int"
        )
        out = _zorder_clustered(df, ["x"], 2).withColumn(
            "pid", F.spark_partition_id()
        )
        pid = {r["x"]: r["pid"] for r in out.collect()}
        assert pid[None] == pid[1]
        assert pid[None] != pid[1000]

    def test_stats_skipping_prunes_zordered_files(
        self, spark, tables, tmp_path
    ):
        """The complete skipping story: OPTIMIZE ZORDER BY writes files
        whose add actions carry footer-stats [min, max], and a
        point-range read then opens a small fraction of the files — on
        EITHER clustered dimension — while returning exactly the same
        rows. Unclustered appends span the whole range (stats exist,
        prune nothing); a log checkpoint carries the stats through."""
        from pyspark.sql import functions as F

        t = self._table(tmp_path)
        rdr = t.reader()
        li = tables["lineitem"]
        cols = ["l_partkey", "l_suppkey", "l_quantity"]
        for k in range(2):
            t.append(li.filter(f"l_orderkey % 2 = {k}").select(*cols))
        full = t.live_paths()
        g = t.snapshot(spark).agg(
            F.min("l_partkey"), F.max("l_partkey"),
            F.min("l_suppkey"), F.max("l_suppkey"),
        ).collect()[0]
        p_rng = (int(g[0]), int(g[0]) + (int(g[1]) - int(g[0])) // 8)
        s_rng = (int(g[2]), int(g[2]) + (int(g[3]) - int(g[2])) // 8)
        # unclustered appends: stats recorded but spans cover the
        # whole range → nothing prunes (correct, not clever)
        assert rdr.live_paths(skip=[("l_partkey", *p_rng)]) == full
        t.optimize(
            spark, target_files=16, zorder_by=["l_partkey", "l_suppkey"]
        )
        all_files = t.live_paths()
        assert len(all_files) > 4  # file-grain output, not one blob
        pruned_p = rdr.live_paths(skip=[("l_partkey", *p_rng)])
        pruned_s = rdr.live_paths(skip=[("l_suppkey", *s_rng)])
        assert len(pruned_p) <= len(all_files) / 2
        assert len(pruned_s) <= len(all_files) / 2
        # pruned scan + row filter ≡ full scan + row filter
        flt = F.col("l_partkey").between(*p_rng)
        want = t.snapshot(spark).filter(flt).count()
        got = (
            rdr.snapshot(spark, skip=[("l_partkey", *p_rng)])
            .filter(flt)
            .count()
        )
        assert got == want > 0
        # stats survive the checkpointed fold
        t.write_checkpoint()
        assert rdr.live_paths(skip=[("l_partkey", *p_rng)]) == pruned_p

    def test_optimize_tolerates_concurrent_append(
        self, spark, tables, tmp_path, monkeypatch
    ):
        """Delta's conflict matrix, the commuting half: an APPEND that
        lands between OPTIMIZE's snapshot read and its publish adds a
        file compaction never read — the retry commits one slot up and
        the appended data stays live and untouched."""
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = self._table(tmp_path)
        t.append(tables["region"].coalesce(1))
        t.append(tables["region"].coalesce(1))
        orig = DeltaTableWriter._stage
        fired = {}

        def racy_stage(self_, df, *a, **kw):
            if not fired:
                fired["x"] = True  # before the racer's own _stage re-enters
                DeltaTableWriter(t.path).append(
                    tables["region"].limit(3).coalesce(1)
                )
            return orig(self_, df, *a, **kw)

        monkeypatch.setattr(DeltaTableWriter, "_stage", racy_stage)
        v = t.optimize(spark)
        assert v == 3  # racer took v2 during our staging; retry landed v3
        n_region = tables["region"].count()
        assert t.snapshot(spark).count() == 2 * n_region + 3
        # the racer's file is still live alongside the compacted one
        assert len(t.live_paths()) == 2

    def test_optimize_aborts_when_input_removed(
        self, spark, tables, tmp_path, monkeypatch
    ):
        """The conflicting half: a concurrent OVERWRITE tombstones the
        files OPTIMIZE read — publishing the rewrite would resurrect
        replaced data, so it must abort loudly."""
        import pytest as _pytest

        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import ConcurrentWriteError

        t = self._table(tmp_path)
        t.append(tables["region"])
        t.append(tables["region"])
        orig = DeltaTableWriter._stage
        fired = {}

        def racy_stage(self_, df, *a, **kw):
            if not fired:
                fired["x"] = True  # before the racer's own _stage re-enters
                racer = DeltaTableWriter(t.path)
                racer.overwrite(
                    tables["nation"], expected_version=racer.latest_version() + 1
                )
            return orig(self_, df, *a, **kw)

        monkeypatch.setattr(DeltaTableWriter, "_stage", racy_stage)
        with _pytest.raises(ConcurrentWriteError, match="resurrect"):
            t.optimize(spark)
        # the overwrite's result is intact — optimize changed nothing
        assert t.snapshot(spark).count() == tables["nation"].count()


class TestSchemaEvolution:
    """Writer-side schema evolution (the source-side twin is the
    registered `source_schema_evolution` key): the TABLE schema lives
    in metaData actions, reads pin it (never
    whichever-footer-Spark-samples), drift refuses unless opted into
    AND additive, and the schema rides checkpoints and the feed."""

    def test_additive_evolution_end_to_end(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import SchemaEvolutionError

        t = _writer(tmp_path / "t")
        t.append(spark.createDataFrame([(1, "a")], "id long, s string"))
        wide = spark.createDataFrame(
            [(2, "b", 9.5)], "id long, s string, score double"
        )
        # drift refuses by default…
        with _pytest.raises(SchemaEvolutionError, match="evolve_schema"):
            t.append(wide)
        # …and non-additive drift refuses even when opted in
        with _pytest.raises(SchemaEvolutionError, match="missing"):
            t.append(
                spark.createDataFrame([(3,)], "id long"),
                evolve_schema=True,
            )
        with _pytest.raises(SchemaEvolutionError, match="retyped"):
            t.append(
                spark.createDataFrame([(3, 4)], "id long, s long"),
                evolve_schema=True,
            )
        t.append(wide, evolve_schema=True)
        snap = t.snapshot(spark)
        assert snap.schema.simpleString() == (
            "struct<id:bigint,s:string,score:double>"
        )
        rows = {r["id"]: r for r in snap.collect()}
        assert rows[1]["score"] is None and rows[2]["score"] == 9.5
        # time travel below the evolution sees the OLD table schema
        assert "score" not in t.snapshot(spark, as_of=0).columns
        # the schema rides the checkpoint fold (O(tail) resolution)
        t.write_checkpoint()
        assert "score" in t.snapshot(spark).columns
        # the change feed reads with the window-head schema
        delta = t.reader().changes_cdf(spark, since=-1)
        assert "score" in delta.columns and delta.count() == 2
        # compaction materializes the evolved schema
        t.optimize(spark)
        post = {r["id"]: r for r in t.snapshot(spark).collect()}
        assert post[1]["score"] is None and post[2]["score"] == 9.5
        # OVERWRITE replaces content, so wholesale schema change is fine
        t.overwrite(
            spark.createDataFrame([("x",)], "k string"),
            t.latest_version() + 1,
        )
        assert t.snapshot(spark).columns == ["k"]

    def test_sink_path_shares_the_schema_gate(self, spark, tmp_path):
        """append_txn — the exactly-once streaming sink's commit path,
        where drift is MOST likely to arrive over a months-long ingest
        — must pass the same gate as append: a drifted micro-batch
        refuses instead of committing ungoverned into a pinned table
        (where the next OPTIMIZE would rewrite it under the stale
        schema and destroy the new column)."""
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import SchemaEvolutionError

        t = _writer(tmp_path / "t")
        t.append_txn(
            spark.createDataFrame([(1, "a")], "id long, s string"), "app", 0
        )
        wide = spark.createDataFrame(
            [(2, "b", 9.5)], "id long, s string, score double"
        )
        with _pytest.raises(SchemaEvolutionError, match="evolve_schema"):
            t.append_txn(wide, "app", 1)
        assert t.append_txn(wide, "app", 1, evolve_schema=True) == 1
        t.optimize(spark)  # maintenance must preserve the evolution
        rows = {r["id"]: r for r in t.snapshot(spark).collect()}
        assert rows[1]["score"] is None and rows[2]["score"] == 9.5
        # nullability-only difference is NOT drift (DDL-built schemas
        # flip nullable flags): same names+types commits cleanly
        t.append_txn(
            spark.range(3).selectExpr("id", "CAST('c' AS STRING) AS s",
                                      "CAST(1.0 AS DOUBLE) AS score"),
            "app", 2,
        )
        assert t.snapshot(spark).count() == 5


class TestTransactionalRandomModel:
    """Model-based interleaving test over the WHOLE maintenance
    surface: random sequences of append / overwrite / optimize
    (plain + zordered) / write_checkpoint / vacuum / change-feed
    consumption, checked after every step against an in-memory model.
    Deterministic seeds — this is a fixed battery, not a flaky fuzz."""

    def test_random_interleavings_match_model(self, spark, tmp_path):
        import random

        from pyspark.sql import functions as F

        def mkdf(ids):
            return spark.createDataFrame([(i,) for i in ids], "id long")

        for seed in (1, 7, 23):
            rng = random.Random(seed)
            t = _writer(tmp_path / f"m{seed}")
            live: list[int] = []     # model: current table content
            next_id = 0
            # change-feed consumer model
            wm, folded = -1, []
            for step in range(12):
                op = rng.choice(
                    ["append", "append", "append", "overwrite",
                     "optimize", "ckpt", "vacuum", "consume"]
                )
                if op == "append":
                    ids = list(range(next_id, next_id + rng.randint(1, 5)))
                    next_id += len(ids)
                    t.append(mkdf(ids))
                    live = live + ids
                elif op == "overwrite":
                    ids = list(range(next_id, next_id + rng.randint(1, 4)))
                    next_id += len(ids)
                    t.overwrite(mkdf(ids), t.latest_version() + 1)
                    live = ids
                elif op == "optimize":
                    t.optimize(
                        spark,
                        zorder_by=["id"] if rng.random() < 0.5 else None,
                    )  # content-preserving; None on empty/single input
                elif op == "ckpt":
                    t.write_checkpoint()
                elif op == "vacuum":
                    t.vacuum(retain_versions=2)
                    # the feed contract: consume WITHIN retention; the
                    # model consumer resyncs from the snapshot rather
                    # than read a window vacuum may have reclaimed
                    folded, wm = list(live), t.latest_version()
                elif op == "consume":
                    if t.latest_version() > wm:
                        # the row-level feed: inserts add, deletes
                        # (an overwrite's tombstoned rows) retract
                        feed = t.reader().changes_cdf(spark, wm)
                        for r in feed.collect() if feed is not None else []:
                            if r["_change_type"] == "insert":
                                folded.append(r["id"])
                            else:
                                assert r["_change_type"] == "delete"
                                folded.remove(r["id"])
                        wm = t.latest_version()
                    # an up-to-date consumer holds exactly the table
                    # content
                    assert sorted(folded) == sorted(live), (seed, step)
                # invariant: the snapshot equals the model after EVERY op
                if live:
                    got = sorted(
                        r["id"] for r in t.snapshot(spark).collect()
                    )
                    assert got == sorted(live), (seed, step, op)
            # stats skipping returns row-identical results on a subrange
            if live and max(live) > min(live):
                lo = min(live)
                hi = lo + (max(live) - lo) // 3
                got = sorted(
                    r["id"]
                    for r in t.reader().snapshot(spark, skip=[("id", lo, hi)])
                    .filter(F.col("id").between(lo, hi))
                    .collect()
                )
                assert got == sorted(i for i in live if lo <= i <= hi)


class TestIncrementalAggView:
    """Incrementally-maintained aggregates over a Delta table: each
    refresh folds only the change feed past the watermark, compaction
    commits are invisible to the view, and the state+watermark commit
    is atomic — so the incremental state is BIT-equal (exact decimal
    sums) to a from-scratch recompute at every step."""

    def _mk(self, tables, tmp_path):
        from algebraicdb_spark.operators.txnlog import IncrementalAggView

        t = _writer(tmp_path / "base")
        v = IncrementalAggView(
            t.reader(),
            str(tmp_path / "view"),
            group_cols=["o_orderpriority"],
            sum_cols=["o_totalprice"],
            min_cols=["o_orderdate"],
            max_cols=["o_orderdate"],
        )
        return t, v, tables["orders"].select(
            "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
        )

    def _assert_equals_recompute(self, spark, t, v):
        got = v.read(spark)
        want = v._partial(t.snapshot(spark))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_refresh_folds_only_the_delta(self, spark, tables, tmp_path):
        t, v, o = self._mk(tables, tmp_path)
        t.append(o.filter("o_orderkey % 3 = 0"))
        t.append(o.filter("o_orderkey % 3 = 1"))
        assert v.refresh(spark) == 1
        self._assert_equals_recompute(spark, t, v)
        # already current → no-op (and a replayed refresh can't double)
        assert v.refresh(spark) is None
        # a window past the log head refuses: recording it as a
        # watermark would silently skip commits that land there later
        import pytest as _pytest

        with _pytest.raises(ValueError, match="past the log head"):
            t.reader().changes_cdf(spark, since=0, to=99)
        # new appends fold incrementally and stay bit-equal
        t.append(o.filter("o_orderkey % 3 = 2"))
        assert v.refresh(spark) == 2
        assert v.watermark() == 2
        self._assert_equals_recompute(spark, t, v)
        # the view state is itself versioned: its first refresh is
        # still time-travelable
        assert v.state.snapshot(spark, as_of=0).count() > 0
        # a window referencing vacuumed data refuses at RESOLUTION
        # time with a domain error, not a raw scan failure: compact,
        # vacuum the originals, then ask for the pre-compaction window
        t.optimize(spark)
        t.vacuum(retain_versions=1)
        with _pytest.raises(ValueError, match="retention already cleaned"):
            t.reader().changes_cdf(spark, since=-1, to=2)

    def test_compaction_is_invisible_to_the_view(
        self, spark, tables, tmp_path
    ):
        t, v, o = self._mk(tables, tmp_path)
        t.append(o.filter("o_orderkey % 2 = 0"))
        t.append(o.filter("o_orderkey % 2 = 1"))
        assert v.refresh(spark) == 1
        state_v = v.state.latest_version()
        # OPTIMIZE rewrites the base (dataChange: false throughout)
        assert t.optimize(spark) == 2
        # refresh sees an all-metadata window: watermark advances via
        # a marker-only commit, the state parquet is NOT rewritten
        assert v.refresh(spark) == 2
        assert v.watermark() == 2
        assert v.state.latest_version() == state_v + 1
        assert v.state.live_paths(as_of=state_v) == v.state.live_paths()
        self._assert_equals_recompute(spark, t, v)

    def test_overwrite_breaks_the_feed_and_rebuild_recovers(
        self, spark, tables, tmp_path
    ):
        import pytest as _pytest

        t, v, o = self._mk(tables, tmp_path)
        t.append(o.filter("o_orderkey % 2 = 0"))
        assert v.refresh(spark) == 0
        t.overwrite(o.limit(100), 1)
        # this view maintains MIN/MAX — not retractable under removes
        # (the deleted row may have been the extremum), so the refusal
        # stands and rebuild recovers
        with _pytest.raises(ValueError, match="min/max"):
            v.refresh(spark)
        assert v.rebuild(spark) == 1
        self._assert_equals_recompute(spark, t, v)
        # and incremental refresh resumes past the rebuild point
        t.append(o.limit(50))
        assert v.refresh(spark) == 2
        self._assert_equals_recompute(spark, t, v)

    def test_cow_deletes_fold_o_delta_without_minmax(
        self, spark, tables, tmp_path
    ):
        """Round 11: a sum/count view consumes copy-on-write DELETE /
        UPDATE / OVERWRITE windows through the row-level feed as
        signed partials — O(delta), bit-equal to a rebuild, groups
        retracted to zero rows vanishing exactly as a rebuild drops
        them. (The round-10 verdict's item 3: previously any COW
        delete forced incremental consumers into a full rebuild.)"""
        from algebraicdb_spark.operators.txnlog import IncrementalAggView

        t = _writer(tmp_path / "base")
        v = IncrementalAggView(
            t.reader(),
            str(tmp_path / "view"),
            group_cols=["o_orderpriority"],
            sum_cols=["o_totalprice"],
        )
        o = tables["orders"].select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        t.append(o.filter("o_orderkey % 2 = 0"))
        t.append(o.filter("o_orderkey % 2 = 1"))
        assert v.refresh(spark) == 1
        # COW delete folds incrementally — NO rebuild
        t.delete(spark, "o_totalprice > 150000")
        assert v.refresh(spark) == 2
        self._assert_equals_recompute(spark, t, v)
        # COW update (preimage/postimage retraction) too
        t.update(spark, {"o_totalprice": "o_totalprice * 2"},
                 "o_orderpriority = '1-URGENT'")
        assert v.refresh(spark) == 3
        self._assert_equals_recompute(spark, t, v)
        # a group deleted entirely VANISHES from the state, exactly as
        # a rebuild would drop it
        t.delete(spark, "o_orderpriority = '1-URGENT'")
        assert v.refresh(spark) == 4
        self._assert_equals_recompute(spark, t, v)
        assert v.read(spark).where(
            "o_orderpriority = '1-URGENT'"
        ).count() == 0
        # appends keep folding after the retractions
        t.append(o.filter("o_orderkey % 2 = 0").limit(20))
        assert v.refresh(spark) == 5
        self._assert_equals_recompute(spark, t, v)


class TestIncrementalViewOverDelta:
    """IncrementalAggView is duck-typed over latest_version /
    changes_cdf / snapshot — so the O(delta) rollup maintains itself
    over an EXTERNAL, hand-written Delta table too: refresh folds the
    Delta change feed, dataChange:false rewrites are invisible, and a
    data-changing remove folds as retractions (a min/max view
    refuses it)."""

    def test_incremental_rollup_over_external_delta(
        self, spark, tables, tmp_path
    ):
        import glob
        import json
        import os
        import shutil

        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import (
            DeltaLogTable,
            IncrementalAggView,
        )

        root = str(tmp_path / "ext_delta")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)
        r = tables["orders"].select("o_orderpriority", "o_totalprice")

        def stage(df, name):
            tmp = os.path.join(root, "_stage")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(root, name))
            shutil.rmtree(tmp)

        def commit(v, lines):
            with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        def add(name, dc=True):
            return {"add": {"path": name, "partitionValues": {}, "size": 1,
                            "modificationTime": 0, "dataChange": dc}}

        stage(r.filter("o_totalprice < 100000"), "f1.parquet")
        stage(r.filter("o_totalprice >= 100000"), "f2.parquet")
        commit(0, [{"commitInfo": {"operation": "WRITE"}}, add("f1.parquet")])
        t = DeltaLogTable(root)
        v = IncrementalAggView(
            t, str(tmp_path / "view"),
            group_cols=["o_orderpriority"], sum_cols=["o_totalprice"],
        )
        assert v.refresh(spark) == 0
        # second wave arrives in the external table
        commit(1, [{"commitInfo": {"operation": "WRITE"}}, add("f2.parquet")])
        assert v.refresh(spark) == 1
        got = v.read(spark)
        want = v._partial(t.snapshot(spark))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # a dataChange:false rewrite commit is invisible to the view
        commit(2, [add("f1.parquet", dc=False)])
        assert v.refresh(spark) == 2
        assert v.read(spark).exceptAll(want).count() == 0
        # a data-changing remove by the EXTERNAL writer folds through
        # the row-level feed as retractions (round 11) — no rebuild
        # for a sum/count view, still bit-equal to recompute
        commit(3, [{"commitInfo": {"operation": "DELETE"}},
                   {"remove": {"path": "f2.parquet", "deletionTimestamp": 0,
                               "dataChange": True}}])
        assert v.refresh(spark) == 3
        want3 = v._partial(t.snapshot(spark))
        assert v.read(spark).exceptAll(want3).count() == 0
        assert want3.exceptAll(v.read(spark)).count() == 0
        # …and a min/max view over the same base refuses with the
        # not-retractable message instead of silently folding
        v2 = IncrementalAggView(
            t, str(tmp_path / "view2"),
            group_cols=["o_orderpriority"], sum_cols=["o_totalprice"],
            min_cols=["o_totalprice"],
        )
        with _pytest.raises(ValueError, match="min/max"):
            v2.refresh(spark)


class TestDeltaLogTable:
    """Read-only interop with Delta Lake's public `_delta_log` JSON
    commit format (PROTOCOL.md action schema): the test WRITES a
    Delta-format table by hand — NDJSON action files, 20-digit
    version names, root-relative URL-encoded paths — and proves
    live-file resolution, time travel, history, and the loud failure
    modes (checkpointed log, version gap)."""

    def _write_delta(self, spark, tables, root):
        """Build <root> as a Delta table: v0 adds f1 (2 rows, with a
        URL-encoded space in its name), v1 adds f2 (3 rows), v2
        removes f1 (overwrite-style tombstone) + commitInfo rows."""
        import glob
        import json
        import os
        import shutil

        os.makedirs(os.path.join(root, "_delta_log"))
        r = tables["region"]

        def stage(df, name):
            tmp = os.path.join(root, "_stage")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(root, name))
            shutil.rmtree(tmp)

        stage(r.limit(2), "part f1.parquet")  # space exercises unquote
        stage(r.limit(3), "part-f2.parquet")

        def commit(v, lines):
            with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        commit(0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "00000000-feed-beef-0000-000000000000",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": "{}", "partitionColumns": []}},
            {"commitInfo": {"operation": "WRITE"}},
            {"add": {"path": "part%20f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ])
        commit(1, [
            {"commitInfo": {"operation": "WRITE"}},
            {"add": {"path": "part-f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ])
        commit(2, [
            {"commitInfo": {"operation": "DELETE"}},
            {"remove": {"path": "part%20f1.parquet", "deletionTimestamp": 0,
                        "dataChange": True}},
        ])

    def test_snapshot_time_travel_and_history(self, spark, tables, tmp_path):
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_t")
        self._write_delta(spark, tables, root)
        t = DeltaLogTable(root)
        assert t.latest_version() == 2
        # latest: f1 tombstoned -> only f2's 3 rows
        assert t.snapshot(spark).count() == 3
        # time travel: v1 sees both files, v0 only the first
        assert t.snapshot(spark, as_of=1).count() == 5
        assert t.snapshot(spark, as_of=0).count() == 2
        # URL-encoded relative path resolved against the table root
        assert any(p.endswith("part f1.parquet") for p in t.live_paths(as_of=0))
        assert [h["operation"] for h in t.history()] == [
            "WRITE", "WRITE", "DELETE",
        ]

    def _checkpoint_at_2(self, spark, tables, root, parts=None):
        """Turn `_write_delta`'s table into a checkpointed one, as a
        real Delta writer would after commit 2: checkpoint parquet
        row-per-action (live add f2, tombstoned remove f1, protocol +
        metaData carried along) via an INDEPENDENT pyarrow write, the
        `_last_checkpoint` pointer, the pre-checkpoint JSON cleaned
        per retention, and a live JSON tail — v3 adds f3 (1 row), v4
        removes f2 and adds f4 (4 rows)."""
        import glob
        import json
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        log = os.path.join(root, "_delta_log")
        r = tables["region"]

        def stage(df, name):
            tmp = os.path.join(root, "_stage")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(root, name))
            shutil.rmtree(tmp)

        stage(r.limit(1), "part-f3.parquet")
        stage(r.limit(4), "part-f4.parquet")
        rows = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "00000000-feed-beef-0000-000000000000",
                          "schemaString": "{}"}},
            {"remove": {"path": "part%20f1.parquet", "deletionTimestamp": 0}},
            {"add": {"path": "part-f2.parquet", "size": 1,
                     "modificationTime": 0, "dataChange": False,
                     "stats": '{"numRecords": 3}'}},
        ]
        # one action per ROW, one struct column per action KIND — every
        # row must carry all columns (from_pylist infers the schema
        # from the first row otherwise)
        keys = ("protocol", "metaData", "remove", "add")
        rows = [{k: r.get(k) for k in keys} for r in rows]
        if parts:
            # split action rows across the multipart file set
            chunks = [rows[:3], rows[3:]]
            assert len(chunks) == parts
            for i, chunk in enumerate(chunks, start=1):
                pq.write_table(
                    pa.Table.from_pylist(chunk),
                    os.path.join(
                        log,
                        f"{2:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
                    ),
                )
            lc = {"version": 2, "size": len(rows), "parts": parts}
        else:
            pq.write_table(
                pa.Table.from_pylist(rows),
                os.path.join(log, f"{2:020d}.checkpoint.parquet"),
            )
            lc = {"version": 2, "size": len(rows)}
        with open(os.path.join(log, "_last_checkpoint"), "w") as f:
            f.write(json.dumps(lc))
        # retention cleanup: the checkpointed prefix's JSON is deleted
        for v in (0, 1, 2):
            os.remove(os.path.join(log, f"{v:020d}.json"))

        def commit(v, lines):
            with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        commit(3, [
            {"commitInfo": {"operation": "WRITE"}},
            {"add": {"path": "part-f3.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ])
        commit(4, [
            {"commitInfo": {"operation": "OVERWRITE"}},
            {"remove": {"path": "part-f2.parquet", "deletionTimestamp": 0,
                        "dataChange": True}},
            {"add": {"path": "part-f4.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ])

    def test_checkpoint_replay_with_cleaned_prefix(self, spark, tables, tmp_path):
        """The shape every aged Delta table has: a checkpoint, NO JSON
        before it, live commits after. Snapshot = checkpoint adds +
        tail fold; time travel to the checkpoint and into the tail
        works; below the checkpoint (JSON gone) raises."""
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cp")
        self._write_delta(spark, tables, root)
        self._checkpoint_at_2(spark, tables, root)
        t = DeltaLogTable(root)
        assert t.latest_version() == 4
        # latest: f2 removed at v4 -> f3 (1) + f4 (4)
        assert t.snapshot(spark).count() == 5
        # tail time travel: v3 = f2 (3) + f3 (1)
        assert t.snapshot(spark, as_of=3).count() == 4
        # AT the checkpoint: its add rows alone (remove row ignored)
        assert t.snapshot(spark, as_of=2).count() == 3
        # below the checkpoint the JSON is cleaned -> loud refusal
        with _pytest.raises(ValueError, match="missing JSON commits"):
            t.live_paths(as_of=1)
        # history covers the surviving commits only, like Delta's
        assert [h["version"] for h in t.history()] == [3, 4]

    def test_multipart_checkpoint_replays(self, spark, tables, tmp_path):
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cp_mp")
        self._write_delta(spark, tables, root)
        self._checkpoint_at_2(spark, tables, root, parts=2)
        t = DeltaLogTable(root)
        assert t.snapshot(spark).count() == 5
        assert t.snapshot(spark, as_of=2).count() == 3

    def test_checkpoint_tail_gap_refuses(self, spark, tables, tmp_path):
        import os

        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cp_gap")
        self._write_delta(spark, tables, root)
        self._checkpoint_at_2(spark, tables, root)
        os.remove(os.path.join(root, "_delta_log", f"{3:020d}.json"))
        with _pytest.raises(ValueError, match="non-contiguous"):
            DeltaLogTable(root).snapshot(spark)

    def test_schema_string_pins_reads(self, spark, tables, tmp_path):
        """A real Delta table records its schema as metaData.
        schemaString (Spark's own StructType JSON): the reader pins it,
        so a mixed-schema (externally evolved) table reads with the
        TABLE schema — old files surface NULL for newer columns —
        instead of resolving to whichever footer Spark samples."""
        import glob
        import json
        import os
        import shutil

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_schema")
        log = os.path.join(root, "_delta_log")
        os.makedirs(log)

        def stage(df, name):
            tmp = os.path.join(root, "_stage")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(root, name))
            shutil.rmtree(tmp)

        stage(spark.createDataFrame([(1, "a")], "id long, s string"),
              "f1.parquet")
        stage(spark.createDataFrame([(2, "b", 9.5)],
                                    "id long, s string, score double"),
              "f2.parquet")
        wide = spark.createDataFrame(
            [], "id long, s string, score double"
        ).schema.json()

        def commit(v, lines):
            with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        def add(name):
            return {"add": {"path": name, "partitionValues": {}, "size": 1,
                            "modificationTime": 0, "dataChange": True}}

        commit(0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "0-0", "schemaString": wide}},
            add("f1.parquet"),
        ])
        commit(1, [add("f2.parquet")])
        t = DeltaLogTable(root)
        snap = t.snapshot(spark)
        assert snap.columns == ["id", "s", "score"]
        rows = {r["id"]: r for r in snap.collect()}
        assert rows[1]["score"] is None and rows[2]["score"] == 9.5
        # the change feed reads pinned too
        delta = t.changes_cdf(spark, since=-1)
        assert "score" in delta.columns and delta.count() == 2

    def test_change_feed_over_external_delta(self, spark, tables, tmp_path):
        """Incremental consumption of someone else's Delta table: the
        change feed returns the window's data-changing adds as inserts,
        skips dataChange:false rewrite traffic, diffs a data-changing
        remove of a checkpointed file against its rewrite, and has no
        change info below a cleaned checkpoint."""
        import json
        import os

        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cdf")
        self._write_delta(spark, tables, root)
        self._checkpoint_at_2(spark, tables, root)
        t = DeltaLogTable(root)
        # (2, 3]: v3's add of f3 (1 row)
        assert t.changes_cdf(spark, since=2, to=3).count() == 1
        # (2, 4]: v4 overwrites the checkpointed f2 (3 rows) with f4
        # (the same 3 plus 1): the carried rows cancel, leaving one
        # insert beside v3's
        assert sorted(
            (r["_change_type"], r["_commit_version"])
            for r in t.changes_cdf(spark, since=2).collect()
        ) == [("insert", 3), ("insert", 4)]
        # a clustering rewrite (dataChange: false) is invisible
        with open(os.path.join(root, "_delta_log", f"{5:020d}.json"), "w") as f:
            f.write(json.dumps({"add": {
                "path": "part-f4.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": False,
            }}) + "\n")
        assert t.changes_cdf(spark, since=4, to=5) is None
        # below the cleaned checkpoint there is no change information
        with _pytest.raises(ValueError, match="non-contiguous"):
            t.changes_cdf(spark, since=0, to=3)

    def test_v2_uuid_checkpoint_replays(self, spark, tables, tmp_path):
        """Round 13: a V2/UUID-named checkpoint REPLAYS — the main
        file is discovered by directory listing per the spec (here a
        self-contained one: no sidecar column, so no parts to chase;
        the sidecar split is pinned in test_round13_v2_checkpoint.py).
        A pointer with NO checkpoint file at all stays corrupt."""
        import os

        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cp_v2")
        self._write_delta(spark, tables, root)
        self._checkpoint_at_2(spark, tables, root)
        baseline = DeltaLogTable(root).snapshot(spark).count()
        log = os.path.join(root, "_delta_log")
        v2_name = (
            f"{2:020d}.checkpoint."
            "80a083e8-7026-4e79-81be-000000000000.parquet"
        )
        os.rename(
            os.path.join(log, f"{2:020d}.checkpoint.parquet"),
            os.path.join(log, v2_name),
        )
        assert DeltaLogTable(root).snapshot(spark).count() == baseline
        # and a pointer with NO checkpoint file at all is corrupt
        os.remove(os.path.join(log, v2_name))
        with _pytest.raises(ValueError, match="incomplete or corrupt"):
            DeltaLogTable(root).snapshot(spark)

    def test_deletion_vector_refuses(self, spark, tables, tmp_path):
        """An add carrying a deletion vector means the parquet file
        contains rows Delta considers deleted — the PLAIN-ROW view
        (`live_paths`, what writers fold) refuses; round 11 narrowed
        the refusal to LIVE DV adds (`snapshot()` now applies DVs —
        test_deletion_vectors.py — and a DV'd add folded out by a
        later remove is irrelevant to the snapshot)."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cp_dv")
        self._write_delta(spark, tables, root)
        self._checkpoint_at_2(spark, tables, root)
        log = os.path.join(root, "_delta_log")
        dv_add = {"add": {"path": "part-dv.parquet", "size": 1,
                          "modificationTime": 0, "dataChange": False,
                          "deletionVector": {"storageType": "u",
                                             "pathOrInlineDv": "x",
                                             "offset": 1, "sizeInBytes": 2,
                                             "cardinality": 3}}}
        pq.write_table(
            pa.Table.from_pylist([
                dv_add,
                {"add": {"path": "part-f2.parquet", "size": 1,
                         "modificationTime": 0, "dataChange": False}},
            ]),
            os.path.join(log, f"{2:020d}.checkpoint.parquet"),
        )
        with _pytest.raises(NotImplementedError, match="deletion vector"):
            DeltaLogTable(root).live_paths()
        # …but a DV'd add the tail already REMOVED folds out cleanly:
        # re-point the DV at part-f2, which v4 removes
        pq.write_table(
            pa.Table.from_pylist([
                {"add": {**dv_add["add"], "path": "part-f2.parquet"}},
            ]),
            os.path.join(log, f"{2:020d}.checkpoint.parquet"),
        )
        assert DeltaLogTable(root).live_paths()  # no raise
        # same refusal on the JSON-commit path: an uncheckpointed
        # table whose latest commit carries a DV add
        root2 = str(tmp_path / "delta_json_dv")
        self._write_delta(spark, tables, root2)
        with open(
            os.path.join(root2, "_delta_log", f"{3:020d}.json"), "w"
        ) as f:
            f.write(json.dumps({"add": {
                "path": "part-f2.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True,
                "deletionVector": {"storageType": "u", "pathOrInlineDv": "x",
                                   "offset": 1, "sizeInBytes": 2,
                                   "cardinality": 3},
            }}) + "\n")
        with _pytest.raises(NotImplementedError, match="deletion vector"):
            DeltaLogTable(root2).live_paths()

    def test_version_gap_refuses(self, spark, tables, tmp_path):
        import os

        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_gap")
        self._write_delta(spark, tables, root)
        os.remove(os.path.join(root, "_delta_log", f"{1:020d}.json"))
        with _pytest.raises(ValueError, match="non-contiguous"):
            DeltaLogTable(root).snapshot(spark)

    def test_missing_log_dir_refuses(self, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        with _pytest.raises(ValueError, match="_delta_log"):
            DeltaLogTable(str(tmp_path / "nope"))


class TestDeltaProtocolAndPartitions:
    """Round-10 reader-honesty fixes: the scan consults the folded
    protocol/metaData actions first (column mapping and unknown reader
    features refuse — a raw scan would silently misread), PARTITIONED
    external tables get their partition columns synthesized from
    add.partitionValues (the values exist only in the log — the
    parquet files never contain those columns, so a raw read returns
    all-NULLs), and AS OF reads pin the queried version's OWN schema
    (time travel across a non-additive external evolution returns
    that version's actual content)."""

    SCHEMA = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "name", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "r", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    }

    def _write_partitioned(self, root, configuration=None, protocol=None):
        """<root> as a partitioned external Delta table: partition
        column r lives ONLY in partitionValues; the data files carry
        just (id, name). v0 = two partitions, v1 adds to r=2."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(root, "_delta_log"))

        def stage(rel, ids, names):
            os.makedirs(os.path.join(root, os.path.dirname(rel)),
                        exist_ok=True)
            pq.write_table(
                pa.table(
                    {"id": ids, "name": names},
                    schema=pa.schema(
                        [("id", pa.int64()), ("name", pa.string())]
                    ),
                ),
                os.path.join(root, rel),
            )

        stage("r=1/f1.parquet", [1, 2], ["a", "b"])
        stage("r=2/f2.parquet", [3], ["c"])
        stage("r=2/f3.parquet", [4], ["d"])

        def commit(v, lines):
            with open(
                os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
            ) as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        meta = {
            "id": "00000000-feed-beef-0000-000000000001",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(self.SCHEMA),
            "partitionColumns": ["r"],
        }
        if configuration is not None:
            meta["configuration"] = configuration
        commit(0, [
            {"protocol": protocol
             or {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            {"add": {"path": "r%3D1/f1.parquet",
                     "partitionValues": {"r": "1"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "r%3D2/f2.parquet",
                     "partitionValues": {"r": "2"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ])
        commit(1, [
            {"add": {"path": "r%3D2/f3.parquet",
                     "partitionValues": {"r": "2"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ])

    def test_partition_columns_synthesized_and_typed(self, spark, tmp_path):
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_part")
        self._write_partitioned(root)
        snap = DeltaLogTable(root).snapshot(spark)
        # schema order matches the table schema, r restored as INT
        assert snap.schema.simpleString() == (
            "struct<id:bigint,name:string,r:int>"
        )
        rows = {r["id"]: r["r"] for r in snap.collect()}
        assert rows == {1: 1, 2: 1, 3: 2, 4: 2}
        # the change feed synthesizes them too
        delta = DeltaLogTable(root).changes_cdf(spark, since=0)
        assert [(r["id"], r["r"]) for r in delta.collect()] == [(4, 2)]
        # time travel keeps partition resolution
        assert DeltaLogTable(root).snapshot(spark, as_of=0).count() == 3

    def test_partition_values_survive_a_checkpoint(self, spark, tmp_path):
        """A checkpointed partitioned table must carry partitionValues
        through the checkpoint's add rows — losing them there would
        NULL the partition column for every pre-checkpoint file."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_part_cp")
        self._write_partitioned(root)
        log = os.path.join(root, "_delta_log")
        keys = ("protocol", "metaData", "add")
        rows = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "00000000-feed-beef-0000-000000000001",
                          "schemaString": json.dumps(self.SCHEMA),
                          "partitionColumns": ["r"]}},
            {"add": {"path": "r%3D1/f1.parquet",
                     "partitionValues": {"r": "1"},
                     "size": 1, "modificationTime": 0, "dataChange": False}},
            {"add": {"path": "r%3D2/f2.parquet",
                     "partitionValues": {"r": "2"},
                     "size": 1, "modificationTime": 0, "dataChange": False}},
        ]
        rows = [{k: r.get(k) for k in keys} for r in rows]
        pq.write_table(
            pa.Table.from_pylist(rows),
            os.path.join(log, f"{0:020d}.checkpoint.parquet"),
        )
        with open(os.path.join(log, "_last_checkpoint"), "w") as f:
            json.dump({"version": 0}, f)
        os.remove(os.path.join(log, f"{0:020d}.json"))  # retention clean
        snap = DeltaLogTable(root).snapshot(spark)
        rows = {r["id"]: r["r"] for r in snap.collect()}
        assert rows == {1: 1, 2: 1, 3: 2, 4: 2}

    def test_column_mapping_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_cm")
        self._write_partitioned(
            root,
            configuration={"delta.columnMapping.mode": "name"},
            protocol={"minReaderVersion": 2, "minWriterVersion": 5},
        )
        with _pytest.raises(NotImplementedError, match="columnMapping"):
            DeltaLogTable(root).snapshot(spark)
        # reader v2 WITHOUT the mode configured is logically unmapped
        root2 = str(tmp_path / "delta_v2_plain")
        self._write_partitioned(
            root2, protocol={"minReaderVersion": 2, "minWriterVersion": 5}
        )
        assert DeltaLogTable(root2).snapshot(spark).count() == 4

    def test_reader_features_gate(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        # an honored feature set reads fine (DVs refuse per-add)
        root = str(tmp_path / "delta_rf_ok")
        self._write_partitioned(
            root,
            protocol={"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "timestampNtz"],
                      "writerFeatures": ["deletionVectors"]},
        )
        assert DeltaLogTable(root).snapshot(spark).count() == 4
        # a LATENT columnMapping feature (mode unset) reads fine —
        # the same rule as legacy reader v2: logical == physical names
        # (graduated in round 11 when enable_deletion_vectors began
        # carrying legacy capabilities into the feature lists, per the
        # spec's version→feature mapping); an unknown feature refuses
        root2 = str(tmp_path / "delta_rf_latent")
        self._write_partitioned(
            root2,
            protocol={"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"]},
        )
        assert DeltaLogTable(root2).snapshot(spark).count() == 4
        # v2Checkpoint graduated to honored in round 13 (the reader
        # replays UUID checkpoints + sidecars); a genuinely unknown
        # feature still refuses
        root2b = str(tmp_path / "delta_rf_v2cp")
        self._write_partitioned(
            root2b,
            protocol={"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"]},
        )
        assert DeltaLogTable(root2b).snapshot(spark).count() == 4
        root2c = str(tmp_path / "delta_rf_bad")
        self._write_partitioned(
            root2c,
            protocol={"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"]},
        )
        with _pytest.raises(NotImplementedError, match="typeWidening"):
            DeltaLogTable(root2c).snapshot(spark)
        # a reader version from the future refuses loudly
        root3 = str(tmp_path / "delta_rf_future")
        self._write_partitioned(
            root3, protocol={"minReaderVersion": 4, "minWriterVersion": 9}
        )
        with _pytest.raises(NotImplementedError, match="minReaderVersion"):
            DeltaLogTable(root3).snapshot(spark)

    def test_as_of_reads_pin_the_historical_schema(self, spark, tmp_path):
        """Time travel across a non-additive EXTERNAL evolution (an
        overwrite that replaced the schema wholesale) must read the
        old version under its OWN metaData — pinning the latest schema
        would surface the historical files as all-NULL/missing."""
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "delta_asof")
        os.makedirs(os.path.join(root, "_delta_log"))
        pq.write_table(pa.table({"id": [1, 2]}), os.path.join(root, "f1.parquet"))
        pq.write_table(pa.table({"k": ["x"]}), os.path.join(root, "f2.parquet"))

        def schema_str(name, typ):
            return json.dumps({"type": "struct", "fields": [
                {"name": name, "type": typ, "nullable": True, "metadata": {}},
            ]})

        def commit(v, lines):
            with open(
                os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
            ) as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        commit(0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "m0", "schemaString": schema_str("id", "long"),
                          "partitionColumns": []}},
            {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ])
        commit(1, [
            {"metaData": {"id": "m0", "schemaString": schema_str("k", "string"),
                          "partitionColumns": []}},
            {"remove": {"path": "f1.parquet", "deletionTimestamp": 0,
                        "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ])
        t = DeltaLogTable(root)
        assert t.snapshot(spark).columns == ["k"]
        old = t.snapshot(spark, as_of=0)
        assert old.columns == ["id"]
        assert sorted(r["id"] for r in old.collect()) == [1, 2]


class TestTransactionalRestore:
    """RESTORE to an earlier version as ONE new commit — rollback with
    history preserved: the undone commits stay readable above the
    restore, the restored live set reuses the original immutable
    files (zero bytes copied), and past-retention targets refuse."""

    def test_restore_round_trip(self, spark, tmp_path):
        import pytest as _pytest

        t = _writer(tmp_path / "rt")
        t.append(spark.createDataFrame([(1, 10.0)], "k long, v double")
                 .coalesce(1))
        t.append(spark.createDataFrame([(2, 20.0)], "k long, v double")
                 .coalesce(1))
        t.delete(spark, "k = 1")                       # v2
        assert sorted(
            r["k"] for r in t.snapshot(spark).collect()
        ) == [2]
        res = t.restore(1)                             # undo the delete
        assert res["version"] == 3 and res["files_readded"] == 1
        assert sorted(
            r["k"] for r in t.snapshot(spark).collect()
        ) == [1, 2]
        # history preserved: the deleted state is still readable at v2
        assert sorted(
            r["k"] for r in t.snapshot(spark, as_of=2).collect()
        ) == [2]
        # content-identical restore commits nothing
        assert t.restore(3)["version"] is None
        assert t.restore(1)["version"] is None  # same content as v1
        # restoring ACROSS a schema evolution restores the old shape
        t.evolve_add_column("w", "int")                # v4
        t.append(spark.createDataFrame(
            [(9, 90.0, 9)], "k long, v double, w int"))  # v5
        res2 = t.restore(1)
        assert res2["version"] == 6
        assert t.snapshot(spark).schema.simpleString() == (
            "struct<k:bigint,v:double>"
        )
        # out-of-range and vacuumed targets refuse
        with _pytest.raises(ValueError, match="0[.][.]6"):
            t.restore(99)
        t.optimize(spark)
        t.vacuum(retain_versions=1)
        with _pytest.raises(ValueError, match="reclaimed"):
            t.restore(0)


class TestDeltaColumnMappingReads:
    """'name'-mode column mapping READS (round 11, second half —
    previously every mapped table refused): the parquet files carry
    PHYSICAL names (col-<uuid>), the schemaString's field metadata
    carries the logical↔physical map, and every scan path renames at
    read. Any table that ever ran DROP/RENAME COLUMN under a real
    Delta client is in this mode. 'id' mode, partial maps, nested
    structs, and partitioned mapped tables still refuse loudly; the
    WRITER refuses every mutation (it stages logical names) except
    VACUUM, which never writes a parquet byte."""

    PHYS = {"k": "col-9e12ab", "v": "col-77cd01"}

    def _schema(self):
        return {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {
                     "delta.columnMapping.id": 1,
                     "delta.columnMapping.physicalName": self.PHYS["k"],
                 }},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {
                     "delta.columnMapping.id": 2,
                     "delta.columnMapping.physicalName": self.PHYS["v"],
                 }},
            ],
        }

    def _write_mapped(self, root, mode="name", schema=None):
        import json
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(root, "_delta_log"))

        def stage(rel, ks, vs):
            pq.write_table(
                pa.table(
                    {self.PHYS["k"]: ks, self.PHYS["v"]: vs},
                    schema=pa.schema([
                        (self.PHYS["k"], pa.int64()),
                        (self.PHYS["v"], pa.string()),
                    ]),
                ),
                os.path.join(root, rel),
            )

        stage("f1.parquet", [1, 2], ["a", "b"])
        stage("f2.parquet", [3], ["c"])

        def commit(v, lines):
            with open(os.path.join(
                root, "_delta_log", f"{v:020d}.json"
            ), "w") as f:
                f.write("\n".join(json.dumps(x) for x in lines) + "\n")

        commit(0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "00000000-feed-beef-0000-00000000cm01",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema or self._schema()),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": mode,
                    "delta.columnMapping.maxColumnId": "2",
                },
            }},
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ])
        commit(1, [
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ])

    def test_name_mode_reads_rename_physical_to_logical(
        self, spark, tmp_path
    ):
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "cm")
        self._write_mapped(root)
        t = DeltaLogTable(root)
        snap = t.snapshot(spark)
        assert snap.schema.simpleString() == "struct<k:bigint,v:string>"
        assert {(r["k"], r["v"]) for r in snap.collect()} == {
            (1, "a"), (2, "b"), (3, "c"),
        }
        # time travel and the change feed rename too
        assert t.snapshot(spark, as_of=0).count() == 2
        cdf = t.changes_cdf(spark, since=0)
        assert [(r["k"], r["v"]) for r in cdf.collect()] == [(3, "c")]
        assert {(r["k"], r["_change_type"]) for r in cdf.collect()} == {
            (3, "insert"),
        }

    def test_unsupported_mapping_shapes_refuse(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        # 'id' mode reads are SUPPORTED since round 13 — by matching
        # parquet footer field ids; this fixture's files carry none,
        # so the scan refuses with the NARROWED message (full id-mode
        # round trips live in tests/test_round13_id_mapping.py)
        root = str(tmp_path / "cm_id")
        self._write_mapped(root, mode="id")
        with _pytest.raises(NotImplementedError, match="no field ids"):
            DeltaLogTable(root).snapshot(spark).collect()
        # a field without physicalName refuses (partial map)
        sch = self._schema()
        sch["fields"][1]["metadata"] = {}
        root2 = str(tmp_path / "cm_partial")
        self._write_mapped(root2, schema=sch)
        with _pytest.raises(NotImplementedError, match="physicalName"):
            DeltaLogTable(root2).snapshot(spark)
        # TOTAL nested maps read since round 14
        # (tests/test_round14_cm_shapes.py); a PARTIAL nested map — a
        # subfield with no physicalName — still refuses, naming the
        # dotted path
        sch2 = self._schema()
        sch2["fields"][1]["type"] = {
            "type": "struct",
            "fields": [{"name": "x", "type": "long", "nullable": True,
                        "metadata": {}}],
        }
        root3 = str(tmp_path / "cm_nested")
        self._write_mapped(root3, schema=sch2)
        with _pytest.raises(NotImplementedError, match=r"v\.x"):
            DeltaLogTable(root3).snapshot(spark)

    def test_mapped_snapshot_does_not_poison_a_new_table(
        self, spark, tmp_path
    ):
        """Appending a mapped table's snapshot into a NEW (unmapped)
        table must not carry the physicalName field metadata into the
        new schemaString: reads there would rename against names the
        new files never had (all-NULL columns). The scan strips the
        delta.columnMapping.* metadata at rename, and the mapping is
        MODE-gated besides."""
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "cm")
        self._write_mapped(root)
        snap = DeltaLogTable(root).snapshot(spark)
        assert all(
            "delta.columnMapping.physicalName" not in (f.metadata or {})
            for f in snap.schema.fields
        )
        root2 = str(tmp_path / "plain")
        DeltaTableWriter(root2).append(snap)
        t2 = DeltaLogTable(root2)
        assert {(r["k"], r["v"]) for r in t2.snapshot(spark).collect()} == {
            (1, "a"), (2, "b"), (3, "c"),
        }
        st_doc = t2.table_schema().json()
        assert "physicalName" not in st_doc

    def test_writer_mapped_name_mode_writes_round_trip(
        self, spark, tmp_path
    ):
        """Round 12: WRITES on 'name'-mode mapped tables (was: every
        mutation refused). Staging renames logical → physical through
        the same ``_cm_mapping`` every scan renames back by, so
        append + COW delete/update/merge/optimize round-trip through
        the independent reader; footer stats key on PHYSICAL names
        per the protocol's stats contract."""
        import json as _json
        import os as _os

        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "cm_w")
        self._write_mapped(root)
        w = DeltaTableWriter(root)
        v = w.append(
            spark.createDataFrame([(9, "z")], "k long, v string")
            .coalesce(1)
        )
        # the committed add's stats + the staged parquet columns are
        # PHYSICAL — a logical-named file would read all-NULL in every
        # mapped client
        with open(_os.path.join(
            root, "_delta_log", f"{v:020d}.json"
        )) as f:
            add = next(
                _json.loads(x)["add"] for x in f if '"add"' in x
            )
        stats = _json.loads(add["stats"])
        assert self.PHYS["k"] in stats["minValues"]
        assert "k" not in stats["minValues"]
        t = DeltaLogTable(root)
        assert {(r["k"], r["v"]) for r in t.snapshot(spark).collect()
                } == {(1, "a"), (2, "b"), (3, "c"), (9, "z")}
        # the COW mutation matrix round-trips
        assert w.delete(spark, "k = 2")["rows_deleted"] == 1
        assert w.update(
            spark, {"v": "upper(v)"}, "k = 3"
        )["rows_updated"] == 1
        w.merge(
            spark,
            spark.createDataFrame([(9, "Z!"), (12, "m")],
                                  "k long, v string"),
            "t.k = s.k", {"v": "s.v"}, ["s.k", "s.v"],
        )
        w.optimize(spark)
        assert {
            (r["k"], r["v"])
            for r in DeltaLogTable(root).snapshot(spark).collect()
        } == {(1, "a"), (3, "C"), (9, "Z!"), (12, "m")}
        assert w.vacuum(retain_versions=1) != []

    def test_writer_mapped_refusal_matrix(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        root = str(tmp_path / "cm_ref")
        self._write_mapped(root)
        w = DeltaTableWriter(root)
        df = spark.createDataFrame([(9, "z")], "k long, v string")
        # schema evolution / overwrite / ALTER re-record the schema —
        # they would drop or miss physical names; refuse
        with _pytest.raises(Exception, match="column-mapped"):
            w.append(
                spark.createDataFrame(
                    [(9, "z", 1.0)], "k long, v string, extra double"
                ),
                evolve_schema=True,
            )
        # SAME-shape overwrite composes since round 14 (the mapped
        # metaData carries forward, the batch restages physical); a
        # schema-CHANGING one still refuses
        with _pytest.raises(NotImplementedError, match="column-mapped"):
            w.overwrite(
                spark.createDataFrame([(9,)], "k long"),
                w.latest_version() + 1,
            )
        w.overwrite(
            spark.createDataFrame([(9, "z"), (10, "y")],
                                  "k long, v string"),
            w.latest_version() + 1,
        )
        snap = DeltaLogTable(root).snapshot(spark)
        assert sorted((r["k"], r["v"]) for r in snap.collect()) == [
            (9, "z"), (10, "y")]
        # ALTER ADD COLUMN works on mapped tables since round 14: the
        # new column gets a fresh physicalName + the next field id
        # (tests/test_round14_cm_shapes.py pins the commit shape)
        w.evolve_add_column("extra", "double")
        assert "extra" in [
            f.name for f in w.reader().table_schema().fields
        ]
        # deletion-vector MoR writes compose since round 14 too
        # (tests/test_round14_cm_dv.py pins the full matrix)
        res = w.delete(spark, "k = 9", mode="mor")
        assert res["rows_deleted"] == 1
        assert [r["k"] for r in
                DeltaLogTable(root).snapshot(spark).collect()] == [10]
        # 'id'-mode writes WORK since round 13: the staged file names
        # columns by physicalName AND stamps the schema's field ids,
        # so the id-matching scan resolves it (the fixture's ORIGINAL
        # id-less files still refuse — the narrowed gate)
        root2 = str(tmp_path / "cm_id_w")
        self._write_mapped(root2, mode="id")
        v = DeltaTableWriter(root2).append(df)
        assert v == 2
        import json as _json
        import os as _os

        import pyarrow.parquet as pq_

        with open(_os.path.join(
            root2, "_delta_log", f"{v:020d}.json"
        )) as fh:
            adds = [
                _json.loads(line)["add"]["path"]
                for line in fh if '"add"' in line
            ]
        sch = pq_.ParquetFile(
            _os.path.join(root2, adds[0])
        ).schema_arrow
        assert sorted(sch.names) == sorted(self.PHYS.values())
        assert all(
            (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
        )


class TestWriterRaceFixes:
    """Round-10 advisor fixes on the writer: blind appends resolve
    their version slot at publish time (two concurrent blind appends
    both land instead of spuriously conflicting), and a retry after a
    lost race re-runs the schema gate instead of republishing stale
    metaData (which would silently revert a racer's evolution)."""

    def test_concurrent_blind_appends_both_land(
        self, spark, tables, tmp_path, monkeypatch
    ):
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = _writer(tmp_path / "t")
        t.append(tables["region"])
        orig = DeltaTableWriter._publish
        fired = {}

        def racy_publish(self_, version, actions):
            if not fired:
                fired["x"] = True  # racer takes OUR slot first
                DeltaTableWriter(t.path).append(tables["region"].limit(2))
            return orig(self_, version, actions)

        monkeypatch.setattr(DeltaTableWriter, "_publish", racy_publish)
        v = t.append(tables["region"].limit(3))  # blind: no expected_version
        assert v == 2  # racer won v1; the blind append retried into v2
        n = tables["region"].count()
        assert t.snapshot(spark).count() == n + 2 + 3

    def test_retry_reruns_schema_gate_instead_of_reverting(
        self, spark, tmp_path, monkeypatch
    ):
        """append_txn staged under schema A; a racer evolves the table
        to A+score and wins the slot. Republishing the PRE-race
        metaData would revert the evolution — the retry must re-gate
        against the racer's schema and refuse (our batch is now
        missing a column)."""
        import pytest as _pytest

        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import SchemaEvolutionError

        t = _writer(tmp_path / "t")
        base = spark.createDataFrame([(1, "a")], "id long, s string")
        wide = spark.createDataFrame(
            [(2, "b", 9.5)], "id long, s string, score double"
        )
        t.append(base)
        orig = DeltaTableWriter._publish
        fired = {}

        def racy_publish(self_, version, actions):
            if not fired:
                fired["x"] = True
                DeltaTableWriter(t.path).append(wide, evolve_schema=True)
            return orig(self_, version, actions)

        monkeypatch.setattr(DeltaTableWriter, "_publish", racy_publish)
        with _pytest.raises(SchemaEvolutionError, match="missing"):
            t.append_txn(base, app_id="app", txn_version=0)
        # the racer's evolution SURVIVED — nothing reverted it
        assert "score" in t.snapshot(spark).columns
        # and the refused batch's staged files were unstaged — this IS
        # the post-stage refusal path (the pre-stage gate passed; the
        # re-gate after the lost race refused)
        assert _data_files(t) == set(t.live_paths())

    def test_append_txn_zombie_twin_without_collision_is_caught(
        self, spark, tmp_path, monkeypatch
    ):
        """The exactly-once hole a lost-race-only re-check misses: a
        zombie driver's duplicate batch lands while ours stages, taking
        its OWN slot — our publish then targets the NEXT free slot with
        no collision, so only the moved-head mark re-check prevents
        committing the batch twice. The late no-op must also unstage
        its files (nothing else would ever reclaim them)."""
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = _writer(tmp_path / "t")
        batch = spark.createDataFrame([(1, "a"), (2, "b")],
                                      "id long, s string")
        t.append(batch.limit(1))
        orig = DeltaTableWriter._stage
        fired = {}

        def racy_stage(self_, df, *a, **kw):
            out = orig(self_, df, *a, **kw)
            if not fired:
                fired["x"] = True  # zombie twin commits the SAME batch
                DeltaTableWriter(t.path).append_txn(batch, "app", 7)
            return out

        monkeypatch.setattr(DeltaTableWriter, "_stage", racy_stage)
        assert t.append_txn(batch, "app", 7) is None  # caught, no dup
        assert t.snapshot(spark).count() == 1 + batch.count()
        assert t.reader().last_txn_version("app") == 7
        # the no-op unstaged its files: every data file on disk is
        # referenced by the log
        assert _data_files(t) == set(t.live_paths())

    def test_exhausted_retries_with_twin_winner_is_noop(
        self, spark, tmp_path, monkeypatch
    ):
        """The FINAL lost race's winner may be our own redelivered
        twin: re-checking the mark only at iteration tops would exit
        the loop unchecked and raise 'pathological contention' for a
        batch that is durably committed — killing the streaming query
        spuriously. The exhaustion path must re-check and no-op."""
        from algebraicdb_spark.operators import txnlog
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = _writer(tmp_path / "t")
        batch = spark.createDataFrame([(1, "a")], "id long, s string")
        t.append(batch)
        orig = DeltaTableWriter._publish
        fired = {}

        def racy_publish(self_, version, actions):
            is_ours = any("txn" in a for a in actions)
            if is_ours and not fired:
                fired["x"] = True  # twin takes OUR slot with OUR mark
                DeltaTableWriter(t.path).append_txn(batch, "app", 3)
            return orig(self_, version, actions)

        monkeypatch.setattr(DeltaTableWriter, "_publish", racy_publish)
        # COMMIT_RETRIES=1: the single attempt loses to the twin and the
        # loop exhausts — the final check must return the no-op
        monkeypatch.setattr(txnlog, "COMMIT_RETRIES", 1)
        assert t.append_txn(batch, "app", 3) is None
        assert t.snapshot(spark).count() == 2  # committed exactly once
        assert _data_files(t) == set(t.live_paths())  # no orphans

    def test_refused_append_unstages_its_files(self, spark, tmp_path):
        """A schema-gate refusal must leave no orphaned data files.
        (The drifted batch here is refused by the PRE-stage gate —
        nothing is ever written; the post-stage refusal path is pinned
        by test_retry_reruns_schema_gate_instead_of_reverting.)"""
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import SchemaEvolutionError

        t = _writer(tmp_path / "t")
        t.append(spark.createDataFrame([(1, "a")], "id long, s string"))
        with _pytest.raises(SchemaEvolutionError):
            t.append(spark.createDataFrame([(2,)], "id long"))
        assert _data_files(t) == set(t.live_paths())

    def test_zorder_refuses_past_seven_columns(self, spark, tables, tmp_path):
        """8 columns × 8 bits lands the interleaved key's top bit on
        bigint's sign bit — range clustering would silently invert the
        top bucket, so the writer refuses."""
        import pytest as _pytest

        t = _writer(tmp_path / "t")
        df = tables["lineitem"].limit(10)
        t.append(df)
        cols = [
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        ]
        with _pytest.raises(ValueError, match="at most 7"):
            t.optimize(spark, zorder_by=cols)


class TestCopyOnWrite:
    """Row-level DELETE/UPDATE as copy-on-write — the GDPR-delete /
    corrections shape: only files containing matching rows are
    rewritten, fully-matching files drop without rewrite I/O, the
    commit is an atomic data-changing remove+add (incremental
    consumers get the loud rebuild signal), and time travel still sees
    the pre-delete content."""

    def _three_file_table(self, spark, tmp_path):
        t = _writer(tmp_path / "t")
        for rows in ([(1, "keep"), (2, "drop")],
                     [(3, "drop"), (4, "drop")],
                     [(5, "keep"), (6, "keep")]):
            t.append(spark.createDataFrame(
                rows, "id long, tag string").coalesce(1))
        return t

    def test_delete_rewrites_only_affected_files(self, spark, tmp_path):
        t = self._three_file_table(spark, tmp_path)
        before = t.live_paths()
        res = t.delete(spark, "tag = 'drop'")
        # file 1 partial → rewritten; file 2 fully matching → pure
        # remove; file 3 untouched → keeps its ORIGINAL add entry
        assert res["rows_deleted"] == 3
        assert res["files_removed"] == 2
        assert res["files_rewritten"] == 1
        after = t.live_paths()
        untouched = set(before) & set(after)
        assert len(untouched) == 1, "exactly one file kept its add entry"
        # and it is the no-match file (ids 5, 6) — never rewritten
        assert sorted(
            r["id"] for r in spark.read.parquet(*untouched).collect()
        ) == [5, 6]
        assert len(after) == 2  # untouched + the one rewritten
        assert sorted(
            r["id"] for r in t.snapshot(spark).collect()
        ) == [1, 5, 6]
        # time travel across the delete sees the pre-delete content
        assert t.snapshot(spark, as_of=2).count() == 6

    def test_delete_null_predicate_keeps_rows(self, spark, tmp_path):
        """SQL DELETE semantics: a NULL predicate does NOT delete."""
        t = _writer(tmp_path / "t")
        t.append(spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id long, v int"))
        res = t.delete(spark, "v > 15")
        assert res["rows_deleted"] == 1
        assert sorted(r["id"] for r in t.snapshot(spark).collect()) == [1, 2]

    def test_delete_matching_nothing_commits_nothing(self, spark, tmp_path):
        t = self._three_file_table(spark, tmp_path)
        v = t.latest_version()
        res = t.delete(spark, "tag = 'absent'")
        assert res["version"] is None and t.latest_version() == v

    def test_update_rewrites_matched_files_preserving_types(
        self, spark, tmp_path
    ):
        t = self._three_file_table(spark, tmp_path)
        before = t.live_paths()
        res = t.update(
            spark, {"tag": "upper(tag)"}, predicate="id IN (2, 3)"
        )
        assert res["rows_updated"] == 2 and res["files_rewritten"] == 2
        after = t.live_paths()
        untouched = set(before) & set(after)
        assert len(untouched) == 1, "unmatched file keeps its add entry"
        assert sorted(
            r["id"] for r in spark.read.parquet(*untouched).collect()
        ) == [5, 6]
        got = {r["id"]: r["tag"] for r in t.snapshot(spark).collect()}
        # matched rows updated; unmatched rows in REWRITTEN files intact
        assert got == {1: "keep", 2: "DROP", 3: "DROP", 4: "drop",
                       5: "keep", 6: "keep"}
        assert dict(t.snapshot(spark).dtypes)["tag"] == "string"
        # assigned expressions cast back to the column type — an UPDATE
        # never drifts the pinned schema
        t.update(spark, {"id": "id + 0.9"}, predicate="id = 1")
        snap = t.snapshot(spark)
        assert dict(snap.dtypes)["id"] == "bigint"
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown column"):
            t.update(spark, {"nope": "1"})

    def test_delete_tolerates_concurrent_append(
        self, spark, tmp_path, monkeypatch
    ):
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        t = self._three_file_table(spark, tmp_path)
        orig = DeltaTableWriter._publish
        fired = {}

        def racy_publish(self_, version, actions):
            if not fired and any("remove" in a for a in actions):
                fired["x"] = True
                DeltaTableWriter(t.path).append(spark.createDataFrame(
                    [(7, "drop")], "id long, tag string"))
            return orig(self_, version, actions)

        monkeypatch.setattr(DeltaTableWriter, "_publish", racy_publish)
        res = t.delete(spark, "tag = 'drop'")
        assert res["version"] == 4  # racer took v3, retry landed v4
        # the racer's row appended AFTER the probe survives — the
        # rewrite never read it (file-disjoint commits commute)
        assert sorted(
            r["id"] for r in t.snapshot(spark).collect()
        ) == [1, 5, 6, 7]

    def test_delete_aborts_when_input_removed(
        self, spark, tmp_path, monkeypatch
    ):
        import pytest as _pytest

        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )
        from algebraicdb_spark.operators.txnlog import ConcurrentWriteError

        t = self._three_file_table(spark, tmp_path)
        orig = DeltaTableWriter._publish
        fired = {}

        def racy_publish(self_, version, actions):
            if not fired and any("remove" in a for a in actions):
                fired["x"] = True
                racer = DeltaTableWriter(t.path)
                racer.overwrite(
                    spark.createDataFrame([(9, "x")], "id long, tag string"),
                    expected_version=racer.latest_version() + 1,
                )
            return orig(self_, version, actions)

        monkeypatch.setattr(DeltaTableWriter, "_publish", racy_publish)
        with _pytest.raises(ConcurrentWriteError, match="resurrect"):
            t.delete(spark, "tag = 'drop'")
        # the racer's overwrite is intact — the delete changed nothing
        assert [r["id"] for r in t.snapshot(spark).collect()] == [9]
        # …and the aborted delete's staged rewrite did NOT leak: every
        # data file on disk is referenced by the log (vacuum's
        # log-candidates rule would never reclaim an unreferenced one)
        leaked = _data_files(t) - _log_referenced(t)
        assert not leaked, f"orphaned staging leaked: {leaked}"

    def test_dialect_delete_update_on_attached_table(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        t = self._three_file_table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE tl FROM delta LOCATION '{t.path}'")
        eng.sql("UPDATE tl SET tag = 'kept' WHERE tag = 'keep'")
        eng.sql("DELETE FROM tl WHERE tag = 'drop'")
        got = {r["id"]: r["tag"]
               for r in eng.sql("SELECT * FROM tl").collect()}
        assert got == {1: "kept", 5: "kept", 6: "kept"}
        # the mutation went through the LOG, not a view swap: a fresh
        # standard reader on the same path sees it
        assert DeltaLogTable(t.path).snapshot(spark).count() == 3
        # deleting every row leaves a legal empty table with schema
        eng.sql("DELETE FROM tl")
        empty = eng.sql("SELECT * FROM tl")
        assert empty.count() == 0 and empty.columns == ["id", "tag"]
        # mutating the now-empty table is a successful no-op (SQL
        # semantics), not an error
        eng.sql("DELETE FROM tl WHERE id = 1")
        eng.sql("UPDATE tl SET tag = 'x' WHERE id = 1")
        assert eng.sql("SELECT * FROM tl").count() == 0
        # iceberg DELETE/UPDATE/MERGE, OPTIMIZE/VACUUM and ZORDER are
        # pinned in test_iceberg.py
        # a VERSION-pinned attachment refuses mutation
        eng.sql(
            f"ATTACH TABLE tl0 FROM delta LOCATION '{t.path}' VERSION 2"
        )
        with _pytest.raises(AdtError, match="pinned"):
            eng.sql("DELETE FROM tl0 WHERE id = 1")


class TestTransactionalMerge:
    """MERGE INTO as ONE copy-on-write commit — the round-10 verdict's
    found defect was the dialect MERGE silently view-swapping on
    ATTACHed tables; these pin the transactional fix: the upsert lands
    in the LOG (survives REFRESH / re-ATTACH), only matched files
    rewrite, multi-matching sources refuse, and VERSION-pinned
    attachments refuse exactly like DELETE/UPDATE."""

    def _three_file_table(self, spark, tmp_path):
        t = _writer(tmp_path / "mt")
        for rows in ([(1, 10.0), (2, 20.0)],
                     [(3, 30.0), (4, 40.0)],
                     [(5, 50.0), (6, 60.0)]):
            t.append(spark.createDataFrame(
                rows, "k long, v double").coalesce(1))
        return t

    def test_merge_insert_arity_refuses_and_unstages(self, spark, tmp_path):
        """insert_exprs narrower/wider than the pinned schema refuses
        (zip would silently truncate → NULLs surface later) and leaves
        no staged orphans behind for vacuum to leak."""
        import os as _os

        import pytest as _pytest

        t = self._three_file_table(spark, tmp_path)
        before = set(_os.listdir(t.path))
        src = spark.createDataFrame([(7, 70.0)], "k long, nv double")
        with _pytest.raises(ValueError, match="1 expressions for 2"):
            t.merge(spark, src, "t.k = s.k", {"v": "s.nv"}, ["s.k"])
        with _pytest.raises(ValueError, match="3 expressions for 2"):
            t.merge(spark, src, "t.k = s.k", None, ["s.k", "s.nv", "1"])
        assert set(_os.listdir(t.path)) == before  # nothing leaked
        assert t.latest_version() == 2  # nothing committed

    def test_merge_upserts_in_one_cow_commit(self, spark, tmp_path):
        t = self._three_file_table(spark, tmp_path)
        before = t.live_paths()
        src = spark.createDataFrame(
            [(2, 99.0), (7, 70.0)], "k long, nv double")
        res = t.merge(
            spark, src, "t.k = s.k",
            {"v": "s.nv"}, ["s.k", "s.nv"],
        )
        # ONE commit: version advanced exactly once
        assert res["version"] == t.latest_version() == 3
        assert res["rows_matched"] == 1
        assert res["rows_inserted"] == 1
        assert res["files_rewritten"] == 1
        # only the file containing k=2 rewrote; the other two keep
        # their ORIGINAL add entries (the 100 TB shape: a keyed upsert
        # never rewrites the table)
        assert len(set(before) & set(t.live_paths())) == 2
        got = {r["k"]: r["v"] for r in t.snapshot(spark).collect()}
        assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0,
                       5: 50.0, 6: 60.0, 7: 70.0}
        # time travel still sees the pre-merge content
        assert {r["k"]: r["v"]
                for r in t.snapshot(spark, as_of=2).collect()}[2] == 20.0

    def test_merge_insert_only_never_rewrites(self, spark, tmp_path):
        t = self._three_file_table(spark, tmp_path)
        before = set(t.live_paths())
        src = spark.createDataFrame(
            [(1, 0.0), (8, 80.0)], "k long, v double")
        res = t.merge(spark, src, "t.k = s.k", None, ["s.k", "s.v"])
        # k=1 matches an existing row → NOT inserted; k=8 inserts;
        # zero files rewritten — an adds-only commit
        assert res["rows_inserted"] == 1
        assert res["files_rewritten"] == 0
        assert before <= set(t.live_paths())
        got = sorted(r["k"] for r in t.snapshot(spark).collect())
        assert got == [1, 2, 3, 4, 5, 6, 8]
        assert {r["k"]: r["v"] for r in t.snapshot(spark).collect()}[1] == 10.0

    def test_merge_matching_nothing_commits_nothing(self, spark, tmp_path):
        t = self._three_file_table(spark, tmp_path)
        v = t.latest_version()
        src = spark.createDataFrame([(99, 1.0)], "k long, v double")
        res = t.merge(spark, src, "t.k = s.k", {"v": "s.v"}, None)
        assert res["version"] is None
        assert t.latest_version() == v
        # and an insert-only merge whose every source row matches also
        # commits nothing (no empty files either)
        src2 = spark.createDataFrame([(1, 0.0)], "k long, v double")
        res2 = t.merge(spark, src2, "t.k = s.k", None, ["s.k", "s.v"])
        assert res2["version"] is None and t.latest_version() == v

    def test_merge_multimatch_refuses_and_unstages(self, spark, tmp_path):
        import pytest as _pytest

        t = self._three_file_table(spark, tmp_path)
        v = t.latest_version()
        dup = spark.createDataFrame(
            [(2, 1.0), (2, 2.0)], "k long, nv double")
        with _pytest.raises(ValueError, match="multiple source rows"):
            t.merge(spark, dup, "t.k = s.k", {"v": "s.nv"}, None)
        assert t.latest_version() == v  # nothing committed
        # …and nothing leaked: every data file on disk is log-referenced
        assert _data_files(t) == set(t.live_paths())

    def test_merge_partitioned_inserts_land_in_partitions(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        t = _writer(tmp_path / "pm")
        t.append(
            spark.createDataFrame(
                [(1, 10, 1.0), (2, 20, 2.0)], "k long, bucket int, v double"
            ),
            partition_by=["bucket"],
        )
        src = spark.createDataFrame(
            [(2, 9.0), (3, 30.0)], "k long, nv double")
        # assigning the partition column refuses (row movement)
        with _pytest.raises(ValueError, match="partition column"):
            t.merge(spark, src, "t.k = s.k", {"bucket": "99"}, None)
        res = t.merge(
            spark, src, "t.k = s.k",
            {"v": "s.nv"}, ["s.k", "30", "s.nv"],
        )
        assert res["rows_matched"] == 1 and res["rows_inserted"] == 1
        snap = t.snapshot(spark)
        got = {r["k"]: (r["bucket"], r["v"]) for r in snap.collect()}
        assert got == {1: (10, 1.0), 2: (20, 9.0), 3: (30, 30.0)}
        # the insert's partition value is in the LOG, not the file
        assert any(
            (pv or {}).get("bucket") == "30"
            for _raw, _res, pv, _dv in t.reader()._live_entries_full()
        )

    def test_merge_matched_delete_cow(self, spark, tmp_path):
        """WHEN MATCHED THEN DELETE as one COW commit: fully-matching
        files drop with zero rewrite I/O, partial files rewrite via
        LEFT ANTI, multi-matching sources are harmless, and the SQL
        surface reaches it."""
        from algebraicdb_spark.engine import Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        t = self._three_file_table(spark, tmp_path)
        before = set(t.live_paths())
        # ks 3 AND 4 = file 2 entirely; k 1 = half of file 1; k 9 = no-op;
        # the duplicate k=1 row proves delete tolerates multi-match
        src = spark.createDataFrame(
            [(3, 0.0), (4, 0.0), (1, 0.0), (1, 1.0), (9, 0.0)],
            "k long, x double",
        )
        res = t.merge(spark, src, "t.k = s.k", None, None,
                      delete_matched=True)
        assert res["rows_matched"] == 3
        assert res["files_rewritten"] == 1  # only the partial file
        got = sorted(r["k"] for r in t.snapshot(spark).collect())
        assert got == [2, 5, 6]
        # the untouched file kept its ORIGINAL add entry
        assert len(before & set(t.live_paths())) == 1
        # SQL surface on an attachment
        droot = str(tmp_path / "d")
        w = _writer(droot)
        w.append(spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "k long, v double").coalesce(1))
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE mdl FROM delta LOCATION '{droot}'")
        eng.create_table(
            "mdsrc", spark.createDataFrame([(2, 0.0)], "k long, x double"))
        eng.sql(
            "MERGE INTO mdl USING mdsrc ON mdl.k = mdsrc.k "
            "WHEN MATCHED THEN DELETE"
        )
        assert {r["k"] for r in eng.sql("SELECT * FROM mdl").collect()} == {1}
        assert DeltaLogTable(droot).snapshot(spark).count() == 1

    def test_dialect_merge_on_attached_table(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        t = self._three_file_table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE mtl FROM delta LOCATION '{t.path}'")
        eng.create_table(
            "msrc",
            spark.createDataFrame([(2, 99.0), (7, 70.0)],
                                  "k long, nv double"),
        )
        eng.sql(
            "MERGE INTO mtl USING msrc ON mtl.k = msrc.k "
            "WHEN MATCHED THEN UPDATE SET v = msrc.nv "
            "WHEN NOT MATCHED THEN INSERT VALUES (msrc.k, msrc.nv)"
        )
        got = {r["k"]: r["v"]
               for r in eng.sql("SELECT * FROM mtl").collect()}
        assert got[2] == 99.0 and got[7] == 70.0 and len(got) == 7
        # the merge went through the LOG: REFRESH does NOT revert it,
        # and a fresh reader on the same path sees it
        eng.sql("REFRESH TABLE mtl")
        got2 = {r["k"]: r["v"]
                for r in eng.sql("SELECT * FROM mtl").collect()}
        assert got2 == got
        assert DeltaLogTable(t.path).snapshot(spark).count() == 7
        # a subsequent DELETE on the same attachment stays consistent
        # (no view/log desync — the round-10 failure mode)
        eng.sql("DELETE FROM mtl WHERE k = 7")
        assert eng.sql("SELECT * FROM mtl").count() == 6
        # a multi-matching source surfaces the loud refusal
        eng.create_table(
            "mdup",
            spark.createDataFrame([(2, 1.0), (2, 2.0)],
                                  "k long, nv double"),
        )
        with _pytest.raises(AdtError, match="multiple source rows"):
            eng.sql(
                "MERGE INTO mtl USING mdup ON mtl.k = mdup.k "
                "WHEN MATCHED THEN UPDATE SET v = mdup.nv"
            )

    def test_dialect_merge_on_delta_attachment(self, spark, tmp_path):
        """Round 11: MERGE on a STANDARD Delta attachment is one COW
        commit (DeltaTableWriter.merge) — persists across REFRESH and
        is visible to a fresh standard reader; a multi-matching source
        and a VERSION-pinned attachment refuse."""
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        eng = Engine(spark)
        eng.create_table(
            "rsrc",
            spark.createDataFrame([(1, 1.5), (9, 9.0)], "k long, nv double"),
        )
        droot = str(tmp_path / "d")
        _writer(droot).append(
            spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                  "k long, v double"))
        eng.sql(f"ATTACH TABLE rdl FROM delta LOCATION '{droot}'")
        eng.sql(
            "MERGE INTO rdl USING rsrc ON rdl.k = rsrc.k "
            "WHEN MATCHED THEN UPDATE SET v = rsrc.nv "
            "WHEN NOT MATCHED THEN INSERT VALUES (rsrc.k, rsrc.nv)"
        )
        want = {(1, 1.5), (2, 20.0), (9, 9.0)}
        assert {(r["k"], r["v"])
                for r in eng.sql("SELECT * FROM rdl").collect()} == want
        eng.sql("REFRESH TABLE rdl")  # the log, not a view swap
        assert {(r["k"], r["v"])
                for r in eng.sql("SELECT * FROM rdl").collect()} == want
        assert {(r["k"], r["v"]) for r in
                DeltaLogTable(droot).snapshot(spark).collect()} == want
        # time travel still sees the pre-merge content
        assert DeltaLogTable(droot).snapshot(spark, as_of=0).count() == 2
        # a multi-matching source refuses without committing
        eng.create_table(
            "rdup",
            spark.createDataFrame([(2, 1.0), (2, 2.0)],
                                  "k long, nv double"),
        )
        with _pytest.raises(AdtError, match="multiple source rows"):
            eng.sql(
                "MERGE INTO rdl USING rdup ON rdl.k = rdup.k "
                "WHEN MATCHED THEN UPDATE SET v = rdup.nv"
            )
        assert DeltaLogTable(droot).latest_version() == 1
        # a VERSION-pinned attachment refuses too
        eng.sql(
            f"ATTACH TABLE rpin FROM delta LOCATION '{droot}' VERSION 0"
        )
        with _pytest.raises(AdtError, match="pinned"):
            eng.sql(
                "MERGE INTO rpin USING rsrc ON rpin.k = rsrc.k "
                "WHEN MATCHED THEN UPDATE SET v = rsrc.nv"
            )

    def test_dialect_insert_into_attached_commits_for_real(
        self, spark, tmp_path
    ):
        """INSERT INTO an ATTACHed table is a REAL append commit —
        the same silent-loss class as the round-10 MERGE/COPY defect:
        the old view-union reverted on REFRESH TABLE."""
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        t = self._three_file_table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE itl FROM delta LOCATION '{t.path}'")
        v = t.latest_version()
        eng.sql("INSERT INTO itl VALUES (8, 80.0), (9, 90.0)")
        assert DeltaLogTable(t.path).latest_version() == v + 1
        eng.sql("REFRESH TABLE itl")  # survives re-resolution
        assert eng.sql("SELECT * FROM itl").count() == 8
        # the int literal was cast to the table's bigint — the schema
        # gate did not trip, and the log carries the typed rows
        assert DeltaLogTable(t.path).snapshot(spark).where(
            "k = 9").collect()[0]["v"] == 90.0
        # VERSION-pinned refuses
        eng.sql(
            f"ATTACH TABLE ipin FROM delta LOCATION '{t.path}' VERSION 1"
        )
        with _pytest.raises(AdtError, match="pinned"):
            eng.sql("INSERT INTO ipin VALUES (1, 1.0)")

    def test_dialect_alter_attached_is_metadata_commit(
        self, spark, tmp_path
    ):
        """ALTER TABLE … ADD COLUMN on an ATTACHed table commits a
        metaData-only evolution through the log (no data rewrite, old
        rows read NULL, survives REFRESH, readable by other engines);
        DROP/RENAME/DEFAULT refuse."""
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        t = self._three_file_table(spark, tmp_path)
        eng = Engine(spark)
        eng.sql(f"ATTACH TABLE atl FROM delta LOCATION '{t.path}'")
        v = t.latest_version()
        eng.sql("ALTER TABLE atl ADD COLUMN score: Double")
        assert DeltaLogTable(t.path).latest_version() == v + 1
        eng.sql("REFRESH TABLE atl")
        df = eng.sql("SELECT * FROM atl")
        assert df.columns == ["k", "v", "score"]
        assert df.where("score IS NULL").count() == 6
        # the evolution is IN the log: appends under the new shape work
        eng.sql("INSERT INTO atl VALUES (7, 70.0, 0.5)")
        assert eng.sql(
            "SELECT score FROM atl WHERE k = 7").collect()[0][0] == 0.5
        with _pytest.raises(AdtError, match="already exists"):
            eng.sql("ALTER TABLE atl ADD COLUMN score: Double")
        with _pytest.raises(AdtError, match="ADD COLUMN only"):
            eng.sql("ALTER TABLE atl DROP COLUMN v")
        with _pytest.raises(AdtError, match="backfill"):
            eng.sql("ALTER TABLE atl ADD COLUMN z: Double DEFAULT 1.0")
        # a fresh standard reader sees the evolved schema
        snap = DeltaLogTable(t.path).snapshot(spark)
        assert snap.columns == ["k", "v", "score"]

    def test_dialect_copy_from_attached_commits_for_real(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from algebraicdb_spark.engine import AdtError, Engine
        from algebraicdb_spark.operators.txnlog import DeltaLogTable

        batch_dir = str(tmp_path / "batch")
        spark.createDataFrame(
            [(8, 80.0), (9, 90.0)], "k long, v double"
        ).write.parquet(batch_dir)
        eng = Engine(spark)
        # COPY FROM is a REAL append commit
        t = self._three_file_table(spark, tmp_path)
        eng.sql(f"ATTACH TABLE ctl FROM delta LOCATION '{t.path}'")
        v = t.latest_version()
        eng.sql(f"COPY ctl FROM '{batch_dir}' (FORMAT parquet)")
        assert DeltaLogTable(t.path).latest_version() == v + 1
        eng.sql("REFRESH TABLE ctl")  # survives re-resolution
        assert eng.sql("SELECT * FROM ctl").count() == 8
        # VERSION-pinned refuses
        eng.sql(
            f"ATTACH TABLE cpin FROM delta LOCATION '{t.path}' VERSION 1"
        )
        with _pytest.raises(AdtError, match="pinned"):
            eng.sql(f"COPY cpin FROM '{batch_dir}' (FORMAT parquet)")


class TestPartitionedTable:
    """Hive-style partitioned commits (the round-10 verdict's
    partitionValues item): partition values live in add actions'
    partitionValues — never in the parquet files — reads synthesize
    the columns back typed, skip= prunes on partition values BEFORE
    stats (the coarser, cheaper tier), the spec is pinned for appends,
    and maintenance (OPTIMIZE/DELETE/UPDATE) stays partition-aware."""

    def _table(self, spark, tmp_path):
        t = _writer(tmp_path / "pt")
        df = spark.createDataFrame(
            [(1, 10, 100.0), (2, 10, 200.0), (3, 20, 300.0), (4, None, 4.0)],
            "id long, bucket int, v double",
        ).coalesce(1)  # one file per partition value
        t.append(df, partition_by=["bucket"])
        return t

    def test_partitioned_append_records_values_not_columns(
        self, spark, tmp_path
    ):
        import json
        import os

        import pyarrow.parquet as pq

        t = self._table(spark, tmp_path)
        with open(os.path.join(t.log_dir, f"{0:020d}.json")) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        adds = [a["add"] for a in actions if "add" in a]
        metas = [a["metaData"] for a in actions if "metaData" in a]
        assert metas[0]["partitionColumns"] == ["bucket"]
        pvs = sorted(str(a["partitionValues"]["bucket"]) for a in adds)
        assert pvs == ["10", "20", "None"]
        # the parquet files do NOT contain the partition column…
        for p in t.live_paths():
            assert "bucket" not in pq.ParquetFile(p).schema_arrow.names
        # …and stats on data columns still recorded alongside
        assert all("id" in json.loads(a["stats"])["minValues"] for a in adds)

    def test_snapshot_synthesizes_typed_partition_column(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        snap = t.snapshot(spark)
        assert dict(snap.dtypes)["bucket"] == "int"
        assert snap.columns == ["id", "bucket", "v"]  # schema order
        got = {r["id"]: r["bucket"] for r in snap.collect()}
        assert got == {1: 10, 2: 10, 3: 20, 4: None}

    def test_partition_pruning_composes_with_stats(self, spark, tmp_path):
        rdr = self._table(spark, tmp_path).reader()
        # partition tier: bucket=20 only → exactly one file opens (the
        # null partition prunes too — its rows can't match any range,
        # and unlike stats the logged value is authoritative)
        assert len(rdr.live_paths(skip=[("bucket", 20, 20)])) == 1
        assert [
            r["id"]
            for r in rdr.snapshot(spark, skip=[("bucket", 20, 20)])
            .where("bucket = 20").collect()
        ] == [3]
        assert len(rdr.live_paths(skip=[("bucket", 0, 99)])) == 2
        # stats tier still composes on data columns within partitions
        assert len(
            rdr.live_paths(skip=[("bucket", 10, 10), ("id", 2, 2)])
        ) == 1
        # and a range missing every partition prunes everything
        assert rdr.live_paths(skip=[("bucket", 90, 99)]) == []

    def test_append_inherits_and_pins_the_spec(self, spark, tmp_path):
        import pytest as _pytest

        from algebraicdb_spark.operators.txnlog import SchemaEvolutionError

        t = self._table(spark, tmp_path)
        # no partition_by stated: inherits ["bucket"]
        t.append(spark.createDataFrame(
            [(5, 20, 500.0)], "id long, bucket int, v double"))
        assert len(t.reader().live_paths(skip=[("bucket", 20, 20)])) == 2
        # an explicit DIFFERENT spec refuses
        with _pytest.raises(SchemaEvolutionError, match="partition spec"):
            t.append(
                spark.createDataFrame(
                    [(6, 30, 6.0)], "id long, bucket int, v double"),
                partition_by=[],
            )
        # overwrite may re-partition (content replaced wholesale)
        t.overwrite(
            t.snapshot(spark), t.latest_version() + 1, partition_by=[],
        )
        _proto, meta = t.reader()._protocol_meta()
        assert meta["partitionColumns"] == []
        assert t.snapshot(spark).count() == 5

    def test_partition_values_survive_checkpoint(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.append(spark.createDataFrame(
            [(5, 20, 500.0)], "id long, bucket int, v double"))
        assert t.write_checkpoint() is not None
        # fold now starts from the checkpoint: pruning and synthesis
        # must both still work
        assert len(t.reader().live_paths(skip=[("bucket", 20, 20)])) == 2
        got = {r["id"]: r["bucket"] for r in t.snapshot(spark).collect()}
        assert got == {1: 10, 2: 10, 3: 20, 4: None, 5: 20}

    def test_partitioned_optimize_compacts_per_partition(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        t = self._table(spark, tmp_path)
        t.append(spark.createDataFrame(
            [(5, 10, 5.0), (6, 20, 6.0)], "id long, bucket int, v double"
        ).coalesce(1))
        before = t.snapshot(spark)
        pre = {tuple(sorted(r.asDict().items())) for r in before.collect()}
        assert len(t.live_paths()) == 5  # 3 + 2 partition files
        v = t.optimize(spark)
        assert v is not None
        # one file per live partition value, content identical
        assert len(t.live_paths()) == 3
        post = {
            tuple(sorted(r.asDict().items()))
            for r in t.snapshot(spark).collect()
        }
        assert post == pre
        # pruning works on the compacted layout
        assert len(t.reader().live_paths(skip=[("bucket", 10, 10)])) == 1
        # z-order on a partitioned table refuses loudly
        with _pytest.raises(NotImplementedError, match="ZORDER"):
            t.optimize(spark, zorder_by=["id"])

    def test_partitioned_delete_and_update(self, spark, tmp_path):
        import pytest as _pytest

        t = self._table(spark, tmp_path)
        # predicate over the SYNTHESIZED partition column works, and
        # only that partition's file is touched
        res = t.delete(spark, "bucket = 10 AND id = 2")
        assert res["rows_deleted"] == 1 and res["files_removed"] == 1
        got = sorted(r["id"] for r in t.snapshot(spark).collect())
        assert got == [1, 3, 4]
        # rewritten file still carries its partition value
        assert len(t.reader().live_paths(skip=[("bucket", 10, 10)])) == 1
        # update keeps partition layout; assigning a partition column
        # refuses (rows would cross partitions)
        t.update(spark, {"v": "v * 2"}, predicate="bucket = 20")
        vals = {r["id"]: r["v"] for r in t.snapshot(spark).collect()}
        assert vals[3] == 600.0 and vals[1] == 100.0
        with _pytest.raises(ValueError, match="partition column"):
            t.update(spark, {"bucket": "bucket + 1"})

    def test_pv_pruning_is_exact_past_float_precision(self):
        """Partition values compare as INTs when they parse as ints —
        float(v) rounds past 2^53 and would wrongly prune a bigint
        partition whose value matches the bound exactly."""
        from algebraicdb_spark.operators.txnlog import _pv_prunes

        big = 9007199254740993  # 2^53 + 1: float() rounds it DOWN
        assert not _pv_prunes({"k": str(big)}, "k", big, big)
        assert _pv_prunes({"k": str(big)}, "k", big + 1, big + 2)
        # null partition values prune (authoritative), absent cols don't
        assert _pv_prunes({"k": None}, "k", 0, 9)
        assert not _pv_prunes({"j": "5"}, "k", 0, 9)
        # unparseable values keep the file
        assert not _pv_prunes({"k": "abc"}, "k", 0, 9)


class TestTxnStreamSink:
    """Exactly-once streaming into a Delta table (streaming/sink.py):
    the foreachBatch at-least-once contract made exactly-once by
    Delta's transaction-identifier protocol (append_txn)."""

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        """The redelivery window: the same (app_id, batch_id) commit a
        second time must add NOTHING — this is the whole exactly-once
        guarantee, simulated directly because a real crash between
        sink-commit and checkpoint-advance can't be forced in-process."""
        from algebraicdb_spark.streaming.sink import txn_committer

        t = _writer(tmp_path / "t")
        commit = txn_committer(t, "app")
        df = spark.range(10)
        commit(df, 0)
        assert t.snapshot(spark).count() == 10
        assert t.reader().last_txn_version("app") == 0
        v = t.latest_version()
        commit(df, 0)  # redelivered batch: must be a no-op
        assert t.latest_version() == v
        assert t.snapshot(spark).count() == 10
        commit(df, 1)  # next batch commits normally
        assert t.snapshot(spark).count() == 20
        assert t.reader().last_txn_version("app") == 1
        # a DIFFERENT app's ids are an independent sequence
        assert t.reader().last_txn_version("other") == -1
        t2_v = t.append_txn(spark.range(5), "other", 0)
        assert t2_v is not None and t.snapshot(spark).count() == 25
        # txn markers are metadata: vacuum and time travel ignore them
        assert t.vacuum(retain_versions=100) == []
        assert t.snapshot(spark, as_of=0).count() == 10

    def test_lost_publish_race_retries_once_not_twice(self, spark, tmp_path):
        """A concurrent writer steals the version slot between our
        latest_version() read and _publish: append_txn must retry one
        slot up WITHOUT restaging or double-committing; a racer that
        carried OUR txn marker (crashed prior incarnation) must turn
        the retry into a no-op."""
        t = _writer(tmp_path / "t")
        orig_publish = t._publish
        raced = {"done": False}

        def racy_publish(version, actions):
            if not raced["done"]:
                raced["done"] = True
                orig_publish(
                    version,
                    [t._protocol_action(), t._txn_action("other", 7)],
                )
            orig_publish(version, actions)

        t._publish = racy_publish
        v = t.append_txn(spark.range(10), "app", 0)
        assert v == 1  # slot 0 was stolen; retry landed at 1
        assert t.snapshot(spark).count() == 10
        assert t.reader().last_txn_version("app") == 0
        assert t.reader().last_txn_version("other") == 7
        # crashed-prior-incarnation case: the marker is already in the
        # log, so the "retry" must become a no-op skip
        t._publish = orig_publish
        assert t.append_txn(spark.range(99), "app", 0) is None
        assert t.snapshot(spark).count() == 10

    def test_stream_drains_commits_per_batch_and_resumes(
        self, spark, sf_dir, tmp_path
    ):
        """End-to-end: staged event files -> file stream -> txnlog
        sink into a Delta table. One commit per micro-batch; snapshot
        equals the batch read; an immediate restart from the same
        checkpoint adds nothing; newly landed source files flow
        through the SAME checkpoint + table without duplicating old
        batches."""
        import os
        import time

        from pyspark.sql import functions as F

        from algebraicdb_spark.streaming.engine import (
            read_events_stream,
            stage_event_files,
        )
        from algebraicdb_spark.streaming.sink import txnlog_sink

        src = stage_event_files(spark, sf_dir, n_files=4)
        t = _writer(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        txnlog_sink(read_events_stream(spark, src), t, "ingest", ckpt)
        expect = spark.read.parquet(src).count()
        assert t.snapshot(spark).count() == expect
        # one micro-batch per staged file (FileEventsSource contract),
        # one commit per batch
        assert t.reader().last_txn_version("ingest") == 3
        n_versions = t.latest_version() + 1
        assert n_versions == 4
        # restart with nothing new: checkpoint yields no batches
        txnlog_sink(read_events_stream(spark, src), t, "ingest", ckpt)
        assert t.snapshot(spark).count() == expect
        # new data lands (distinct ids, later mtime), same checkpoint
        extra = (
            spark.read.parquet(src)
            .limit(500)
            .withColumn("event_id", F.col("event_id") + F.lit(10**12))
        )
        extra_dir = str(tmp_path / "extra")
        extra.coalesce(1).write.parquet(extra_dir)
        part = next(
            f for f in os.listdir(extra_dir) if f.endswith(".parquet")
        )
        dest = os.path.join(src, "part-0099-extra.parquet")
        os.rename(os.path.join(extra_dir, part), dest)
        os.utime(dest, (time.time() + 60, time.time() + 60))
        txnlog_sink(
            read_events_stream(spark, src), t, "ingest", ckpt,
            log_checkpoint_every=2,
        )
        # the new batch committed v4 (divisible by 2) → the sink folded
        # a log checkpoint, keeping the per-batch idempotence probe
        # O(tail); reads below answer through it
        assert os.path.exists(os.path.join(t.log_dir, "_last_checkpoint"))
        got = t.snapshot(spark)
        assert got.count() == expect + 500
        # exactly-once: per-event_id occurrence multiset in the sink
        # equals the source directory's — no batch dropped, none doubled
        a = got.groupBy("event_id").count()
        b = spark.read.parquet(src).groupBy("event_id").count()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        # the sink's file-per-micro-batch layout is exactly what
        # OPTIMIZE exists for: compact, then re-check the multiset
        assert len(t.live_paths()) >= 5  # at least one file per batch
        t.optimize(spark)
        assert len(t.live_paths()) == 1
        c = t.snapshot(spark).groupBy("event_id").count()
        assert c.exceptAll(b).count() == 0
        assert b.exceptAll(c).count() == 0
        # and the full maintenance loop composes: an incremental
        # aggregate view over the ingested table builds through the
        # change feed, reading the ORIGINAL batch commits and skipping
        # the compaction commit (dataChange: false)
        from algebraicdb_spark.operators.txnlog import IncrementalAggView

        view = IncrementalAggView(
            t.reader(), str(tmp_path / "rollup"),
            group_cols=["event_type"], sum_cols=["value"],
        )
        assert view.refresh(spark) == t.latest_version()
        want = view._partial(t.snapshot(spark))
        got = view.read(spark)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
