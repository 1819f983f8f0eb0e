"""Dialect-table DML goes through the lakehouse mutation planner.

- One DML script on a dialect table, an ATTACHed Delta table, an
  ATTACHed Iceberg table and DuckDB ends with the same rows. It has a
  DELETE predicate that is NULL on some rows, an UPDATE whose value is
  wider than the column, and a MERGE … THEN DELETE with a NOT MATCHED
  INSERT. A source matching one target row twice is refused by all
  three engine tables with one message.
- An INSERT batch is one inline relation: the table's analyzed plan
  has one leaf per INSERT statement plus the empty base, and a read
  scans no ``OneRowRelation``.
- A VALUES cell must be constant, and a current-time cell is
  evaluated once, at INSERT time."""

import time

import duckdb
import pytest

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.functions.adt import AdtError

ROWS = "(1, 10), (2, NULL), (3, 30), (4, 60), (5, NULL), (6, 40)"
# (engine statement, DuckDB statement): DuckDB 1.0 has no MERGE, so its
# side of the MERGE is the same rows written as one table replacement
SCRIPT = [
    ("INSERT INTO {t} VALUES (7, NULL), (8, 80)",) * 2,
    ("DELETE FROM {t} WHERE v > 50",) * 2,
    ("UPDATE {t} SET v = COALESCE(v, 0) * 1.5 + 0.25 WHERE v < 35",) * 2,
    (
        "MERGE INTO {t} USING dml_src ON {t}.k = dml_src.k "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT VALUES (dml_src.k, dml_src.v)",
        "CREATE OR REPLACE TABLE {t} AS "
        "SELECT * FROM {t} WHERE k NOT IN (SELECT k FROM dml_src) "
        "UNION ALL SELECT k, v FROM dml_src "
        "WHERE k NOT IN (SELECT k FROM {t})",
    ),
]
EXPECTED = [(1, 15), (2, None), (6, 40), (7, None), (9, 90)]


def test_one_dml_script_on_every_table_kind(spark, tmp_path):
    eng = Engine(spark)
    eng.sql("CREATE TABLE dml_src (k: Integer, v: Integer)")
    eng.sql("INSERT INTO dml_src VALUES (3, 0), (9, 90), (5, 5)")
    eng.sql("CREATE TABLE dml_dup (k: Integer, v: Integer)")
    eng.sql("INSERT INTO dml_dup VALUES (1, 100), (1, 101)")
    eng.sql("CREATE TABLE dml_t (k: Integer, v: Integer)")
    eng.sql(f"INSERT INTO dml_t VALUES {ROWS}")
    base = (f"SELECT CAST(k AS BIGINT) AS k, CAST(v AS BIGINT) AS v "
            f"FROM VALUES {ROWS} AS r(k, v)")
    for name, fmt in (("dml_d", "delta"), ("dml_i", "iceberg")):
        eng.sql(f"CREATE TABLE {name} FROM {fmt} LOCATION "
                f"'{tmp_path / name}' AS {base}")
    tables = ("dml_t", "dml_d", "dml_i")

    con = duckdb.connect()
    con.execute("CREATE TABLE dml_src (k BIGINT, v BIGINT)")
    con.execute("INSERT INTO dml_src VALUES (3, 0), (9, 90), (5, 5)")
    con.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    con.execute(f"INSERT INTO t VALUES {ROWS}")
    for ours, duck in SCRIPT:
        for t in tables:
            eng.sql(ours.format(t=t))
        con.execute(duck.format(t="t"))

    def key(r):
        return (r[0], -1 if r[1] is None else r[1])

    assert sorted(con.execute("SELECT * FROM t").fetchall(), key=key) \
        == EXPECTED
    for t in tables:
        assert sorted(map(tuple, eng.table(t).collect()), key=key) \
            == EXPECTED, t
        # the widening assignment was cast back to the declared type
        assert dict(eng.table(t).dtypes) == {"k": "bigint", "v": "bigint"}

    messages = set()
    for t in tables:
        with pytest.raises(AdtError, match="matched multiple source rows") \
                as exc:
            eng.sql(f"MERGE INTO {t} USING dml_dup ON {t}.k = dml_dup.k "
                    "WHEN MATCHED THEN UPDATE SET v = dml_dup.v")
        messages.add(str(exc.value).replace(t, "<t>"))
        assert sorted(map(tuple, eng.table(t).collect()), key=key) \
            == EXPECTED, t
    assert len(messages) == 1, messages
    for t in ("dml_src", "dml_dup", *tables):
        eng.sql(f"DROP TABLE {t}")


def test_insert_batch_is_one_inline_relation(spark):
    eng = Engine(spark)
    eng.sql("CREATE TYPE PlanPay = Card(amount: Double) | Cash")
    eng.sql("CREATE TABLE plan_t (id: Integer, p: PlanPay)")
    eng.sql("INSERT INTO plan_t VALUES (1, Card(5.0)), (2, Cash), (3, NULL)")
    eng.sql("INSERT INTO plan_t VALUES (4, Card(0.5)), (5, Card(9.0))")
    eng.sql("INSERT INTO plan_t (p, id) VALUES (Cash, 6), (Card(2.0), 7)")
    eng.sql("UPDATE plan_t SET id = id * 10 WHERE p: Card(a) AND a > 4")
    eng.sql("DELETE FROM plan_t WHERE id = 2")
    leaves = eng.table("plan_t")._jdf.queryExecution().analyzed() \
        .collectLeaves().size()
    assert leaves <= 4
    read = eng.sql("SELECT id FROM plan_t WHERE p: Card(a) AND a > 1")
    assert sorted(r.id for r in read.collect()) == [7, 10, 50]
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "OneRowRelation" not in plan
    assert "LocalTableScan" in plan
    eng.sql("DROP TABLE plan_t")


@pytest.mark.parametrize("cell", ["rand()", "uuid()"])
def test_non_constant_values_cell_is_refused(spark, cell):
    eng = Engine(spark)
    eng.sql("CREATE TABLE nc_t (id: Integer, v: Text)")
    with pytest.raises(AdtError, match="not a constant"):
        eng.sql(f"INSERT INTO nc_t VALUES (1, 'a'), (2, {cell})")
    assert eng.table("nc_t").count() == 0
    eng.sql("DROP TABLE nc_t")


def test_current_time_cell_is_fixed_at_insert(spark):
    eng = Engine(spark)
    eng.sql("CREATE TABLE now_t (id: Integer, ts: Timestamp)")
    eng.sql("INSERT INTO now_t VALUES (1, current_timestamp())")
    first = eng.sql("SELECT ts FROM now_t").collect()
    time.sleep(1.2)
    assert eng.sql("SELECT ts FROM now_t").collect() == first
    assert first[0].ts is not None
    eng.sql("DROP TABLE now_t")
