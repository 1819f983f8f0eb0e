"""The one commit step every write statement on an ATTACHed lakehouse
table runs through: a VERSION pin refuses every write, every writer
refusal reaches the caller as ``AdtError`` (and as a ``dialect`` error
over the line protocol), OPTIMIZE checks its ZORDER BY columns before
any job, and a refused analysis writes no query-context log record."""

import os

import pytest

from algebraicdb_spark.engine import Engine, _writer
from algebraicdb_spark.functions.adt import AdtError


def _files(root: str) -> dict[str, float]:
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _dirs, fs in os.walk(root) for f in fs
    }


def _count(eng: Engine, name: str) -> int:
    return eng.sql(f"SELECT COUNT(*) AS n FROM {name}").collect()[0]["n"]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_pinned_attachment_refuses_every_write(spark, tmp_path, fmt):
    """Five rows at the first commit, six at latest: each write
    statement on the VERSION-pinned attachment refuses with "pinned",
    lands no commit, and leaves the view reading the pinned rows.
    REFRESH TABLE then clears the pin."""
    path = str(tmp_path / fmt)
    w = _writer(fmt, path)
    first = w.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k long, v string").coalesce(1))
    w.append(spark.createDataFrame([(5, "v5")], "k long, v string"))
    src = str(tmp_path / "src")
    spark.createDataFrame([(7, "c")], "k long, v string").write.parquet(src)
    eng = Engine(spark)
    eng.create_table("msrc", spark.createDataFrame(
        [(1, "m")], "k long, v string"))
    eng.sql(f"ATTACH TABLE p FROM {fmt} LOCATION '{path}' VERSION {first}")
    assert _count(eng, "p") == 5
    before = _files(path)
    stmts = [
        "INSERT INTO p VALUES (9, 'z')",
        f"COPY p FROM '{src}' (FORMAT parquet)",
        "DELETE FROM p WHERE k = 1",
        "TRUNCATE TABLE p",
        "UPDATE p SET v = 'u' WHERE k = 1",
        "MERGE INTO p USING msrc ON p.k = msrc.k "
        "WHEN MATCHED THEN UPDATE SET v = msrc.v",
        f"RESTORE TABLE p TO VERSION AS OF {first}",
        "OPTIMIZE TABLE p",
        "VACUUM p RETAIN 1",
        "ALTER TABLE p SET PROPERTIES ('owner' = 'x')",
        "ALTER TABLE p ADD COLUMN z: Integer",
    ]
    if fmt == "iceberg":
        stmts.append("UPSERT INTO p BY KEY (k) SELECT CAST(1 AS BIGINT) AS k, 'u' AS v")
    for stmt in stmts:
        with pytest.raises(AdtError, match="pinned"):
            eng.sql(stmt)
        assert _files(path) == before, stmt
        assert _count(eng, "p") == 5, stmt
    eng.sql("REFRESH TABLE p")
    assert _count(eng, "p") == 6
    eng.sql("OPTIMIZE TABLE p")
    assert _count(eng, "p") == 6


def test_writer_refusal_is_a_dialect_error(spark, tmp_path):
    """A MERGE the Iceberg writer cannot encode (merge-on-read on a
    partitioned table) refuses as AdtError like UPDATE and DELETE do,
    and the line protocol reports it as a dialect error."""
    from algebraicdb_spark.server import Client, EngineServer

    w = _writer("iceberg", str(tmp_path / "pm"))
    w.append(spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, v string, part int"),
        partition_by=["part"])
    w.set_properties({"write.merge.mode": "merge-on-read"})
    eng = Engine(spark)
    eng.sql(f"ATTACH TABLE pm FROM iceberg LOCATION '{w.path}'")
    eng.create_table("ms", spark.createDataFrame([(1, "x")], "k long, v string"))
    merge = ("MERGE INTO pm USING ms ON pm.k = ms.k "
             "WHEN MATCHED THEN UPDATE SET v = ms.v")
    with pytest.raises(AdtError, match="MERGE pm: .*PARTITIONED"):
        eng.sql(merge)
    srv = EngineServer(eng, port=0)
    try:
        with Client(port=srv.port) as c, pytest.raises(
            RuntimeError, match=r"^\[dialect\] MERGE pm"
        ):
            c.sql(merge)
    finally:
        srv.shutdown()
    # a verb the format's writer lacks names the statement
    with pytest.raises(AdtError, match="ENABLE DELETION VECTORS pm: not available on iceberg"):
        eng.sql("ALTER TABLE pm ENABLE DELETION VECTORS")
    assert _count(eng, "pm") == 2
    # the schema gate's refusal: another client evolved the table
    # after the ATTACH, so the INSERT batch lacks the new column
    d = _writer("delta", str(tmp_path / "dl"))
    d.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    eng.sql(f"ATTACH TABLE dl FROM delta LOCATION '{d.path}'")
    d.evolve_add_column("z", "int")
    with pytest.raises(AdtError, match="INSERT dl: batch schema drifted"):
        eng.sql("INSERT INTO dl VALUES (2, 'b')")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_zorder_by_unknown_column_refuses_before_any_job(spark, tmp_path, fmt):
    w = _writer(fmt, str(tmp_path / fmt))
    w.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    eng = Engine(spark)
    eng.sql(f"ATTACH TABLE zt FROM {fmt} LOCATION '{w.path}'")
    sc = spark.sparkContext
    sc.setJobGroup("zorder-unknown", "OPTIMIZE ZORDER BY an unknown column")
    try:
        with pytest.raises(AdtError, match=r"OPTIMIZE zt: .*\['nosuch'\]"):
            eng.sql("OPTIMIZE TABLE zt ZORDER BY (k, nosuch)")
        assert sc.statusTracker().getJobIdsForGroup("zorder-unknown") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_refused_analysis_writes_no_query_context_record(spark, capfd):
    """An INSERT whose VALUES cell is not constant fails Spark analysis;
    the engine's AdtError reaches the caller and stderr holds no
    query-context log record (with its JVM stack trace)."""
    eng = Engine(spark)
    eng.sql("CREATE TABLE qc (id: Integer, x: Double)")
    capfd.readouterr()
    with pytest.raises(AdtError, match="not a constant"):
        eng.sql("INSERT INTO qc VALUES (1, rand())")
    assert "QueryContextLogger" not in capfd.readouterr().err
