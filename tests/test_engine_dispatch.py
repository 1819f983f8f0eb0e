"""Statement dispatch: catalog-writing statements serialize under the
engine's lock and engine statements refuse bound parameters — plus the
temp-view hygiene of the code paths that register private views. The
statement classifier itself is pinned in test_server.py."""

import sys
import threading

import pytest

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.functions.adt import AdtError


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_concurrent_direct_inserts_all_land(spark):
    """Eight threads INSERT straight into one Engine: every view-union
    swap runs under the engine lock, so none is lost to a racing
    read-modify-write of the table's view."""
    eng = Engine(spark)
    eng.sql("CREATE TABLE conc_ins (w: Integer, i: Integer)")
    errors: list[BaseException] = []

    def worker(w: int) -> None:
        try:
            for i in range(5):
                eng.sql(f"INSERT INTO conc_ins VALUES ({w}, {i})")
        except BaseException as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    rows = eng.sql("SELECT w, i FROM conc_ins").collect()
    assert sorted((r.w, r.i) for r in rows) == [
        (w, i) for w in range(8) for i in range(5)
    ]
    eng.sql("DROP TABLE conc_ins")


def test_engine_statements_refuse_params(spark):
    eng = Engine(spark)
    eng.sql("CREATE TABLE prm_t (x: Integer)")
    with pytest.raises(AdtError, match="parameters"):
        eng.sql("INSERT INTO prm_t VALUES (1)", params={"x": 1})
    with pytest.raises(AdtError, match="parameters"):
        eng.sql("SHOW TABLES", params=[1])
    assert eng.sql("SELECT COUNT(*) AS n FROM prm_t").collect()[0].n == 0
    # the plain read path still binds them
    assert eng.sql("SELECT :x AS v", params={"x": 7}).collect()[0].v == 7
    eng.sql("DROP TABLE prm_t")


def test_failing_fixpoints_leave_no_views(spark):
    """A step that fails analysis must not strand the loop view or the
    materialized prefix-CTE views in the session catalog."""
    eng = Engine(spark)
    failing = (
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION "
        "SELECT n + 1 FROM t WHERE no_such_col < 3) SELECT * FROM t",
        "WITH ITERATE g(n) AS (SELECT 1 STEP SELECT no_such_col FROM g) "
        "SELECT * FROM g",
        "WITH RECURSIVE p(k) AS (SELECT 1), t(n) AS (SELECT k FROM p "
        "UNION SELECT n + 1 FROM t WHERE no_such_col < 3) SELECT * FROM t",
    )
    for stmt in failing:
        with pytest.raises(Exception):
            eng.sql(stmt)
    names = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert not [n for n in names if "__fixpoint" in n]


def test_operator_inputs_leave_no_temp_views(spark, sf_dir, tables):
    """Operators bind private inputs through ``spark.sql(text, name=df)``
    — Spark drops those uuid views once the statement is analyzed — so
    building a key adds no temp view, and the built plan still runs."""
    from algebraicdb_spark.plans.registry import queries

    keys = (
        "dedup_minhash_lsh",
        "pipeline_dedup_funnel",
        "win_time_range_frame",
        "win_ignore_nulls",
        "udtf_python",
    )
    qs = queries()
    before = _temp_views(spark)
    built = [qs[k](spark, sf_dir) for k in keys]
    assert _temp_views(spark) - before == set()
    for df in built:
        df.count()


def test_reads_survive_concurrent_create_table(spark):
    """Reads take no lock, so a read's rewrite must not iterate the
    live table catalog while a CREATE TABLE on another thread inserts
    into it ('dictionary changed size during iteration')."""
    eng = Engine(spark)
    for i in range(40):
        eng.sql(f"CREATE TABLE rd_base{i} (x: Integer)")
    stop = threading.Event()
    errors: list[BaseException] = []

    def reader() -> None:
        try:
            while not stop.is_set():
                eng.sql("SELECT 1 AS one")
        except BaseException as exc:  # surfaced by the assert below
            errors.append(exc)

    # switch threads every microsecond, so a reader is regularly
    # suspended inside its catalog scan while the writer runs
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    readers = [threading.Thread(target=reader) for _ in range(4)]
    try:
        for t in readers:
            t.start()
        for i in range(40):
            eng.sql(f"CREATE TABLE rd_new{i} (x: Integer)")
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers)
    assert not errors, errors[0]
    for i in range(40):
        eng.sql(f"DROP TABLE rd_base{i}")
        eng.sql(f"DROP TABLE rd_new{i}")
