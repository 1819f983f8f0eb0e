"""Client/server protocol: a real socket round-trip of the dialect
lifecycle (SURVEY §3.1) — CREATE TYPE → CREATE TABLE → INSERT with
constructors → pattern SELECT → mutation → relational query on the
attached fixture catalog — plus error shapes and page truncation."""

import json
import socket

import pytest


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    from algebraicdb_spark.engine import Engine
    from algebraicdb_spark.server import EngineServer

    srv = EngineServer(Engine(spark, sf_dir=sf_dir), port=0, max_rows=50)
    yield srv
    srv.shutdown()


@pytest.fixture()
def client(server):
    from algebraicdb_spark.server import Client

    with Client(port=server.port) as c:
        yield c


def test_full_dialect_lifecycle_over_socket(client):
    client.sql(
        "CREATE TYPE Shape = Circle(r: Double) | Rect(w: Double, h: Double) | Point"
    )
    client.sql("CREATE TABLE shapes (id: Integer, s: Shape)")
    client.sql(
        "INSERT INTO shapes VALUES (1, Circle(2.0)), (2, Rect(3.0, 4.0)), (3, Point)"
    )
    resp = client.sql("SELECT id, r FROM shapes WHERE s: Circle(r)")
    assert resp["columns"] == ["id", "r"]
    assert resp["rows"] == [[1, 2.0]]
    client.sql("DELETE FROM shapes WHERE s: Point")
    resp = client.sql("SELECT COUNT(*) AS n FROM shapes")
    assert resp["rows"] == [[2]]
    client.sql("DROP TABLE shapes")


def test_fixture_catalog_visible_through_server(client):
    resp = client.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    assert resp["columns"] == ["o_orderstatus", "n"]
    assert resp["row_count"] >= 1
    assert all(isinstance(r[1], int) for r in resp["rows"])


def test_truncation_flag_and_bounded_page(client):
    resp = client.sql("SELECT o_orderkey FROM orders")
    assert resp["truncated"] is True
    assert resp["row_count"] == 50  # server max_rows, not the table size


def test_error_response_is_typed_not_fatal(client):
    with pytest.raises(RuntimeError) as exc:
        client.sql("SELECT * FROM definitely_not_a_table")
    assert "definitely_not_a_table" in str(exc.value)
    # connection survives an error: next statement still works
    assert client.sql("SELECT 1 AS one")["rows"] == [[1]]


def test_protocol_is_plain_newline_json(server):
    # raw socket, no Client helper: the protocol is the contract
    with socket.create_connection(("127.0.0.1", server.port), timeout=60) as s:
        s.sendall(b'{"id": 42, "sql": "SELECT 2 + 2 AS four"}\n')
        f = s.makefile("rb")
        resp = json.loads(f.readline())
    assert resp["id"] == 42 and resp["ok"] and resp["rows"] == [[4]]


def test_concurrent_clients_share_catalog(server):
    from algebraicdb_spark.server import Client

    with Client(port=server.port) as a, Client(port=server.port) as b:
        a.sql("CREATE TYPE Ev2 = On | Off")
        a.sql("CREATE TABLE switches (id: Integer, st: Ev2)")
        a.sql("INSERT INTO switches VALUES (1, On), (2, Off), (3, On)")
        # second connection sees the first one's DDL (server owns the catalog)
        resp = b.sql("SELECT COUNT(*) AS n FROM switches WHERE st: On")
        assert resp["rows"] == [[2]]
        a.sql("DROP TABLE switches")


def test_alter_table_over_socket(server):
    """ALTER is a catalog mutation: it must serialize under the engine
    lock and its widened schema must be visible to other connections."""
    from algebraicdb_spark.server import Client

    with Client(port=server.port) as a, Client(port=server.port) as b:
        a.sql("CREATE TABLE alt_srv (id: Integer)")
        a.sql("INSERT INTO alt_srv VALUES (1), (2)")
        a.sql("ALTER TABLE alt_srv ADD COLUMN note: Text DEFAULT 'n/a'")
        resp = b.sql("SELECT id, note FROM alt_srv ORDER BY id")
        assert resp["columns"] == ["id", "note"]
        assert resp["rows"] == [[1, "n/a"], [2, "n/a"]]
        with pytest.raises(RuntimeError) as exc:
            b.sql("ALTER TABLE alt_srv DROP COLUMN nope")
        assert "unknown column" in str(exc.value)
        a.sql("DROP TABLE alt_srv")


def test_non_string_sql_is_protocol_error_not_fatal(server):
    """{"sql": 5} must produce a typed protocol error AND leave the
    handler alive for the next request on the same connection."""
    with socket.create_connection(("127.0.0.1", server.port), timeout=60) as s:
        f = s.makefile("rwb")
        f.write(b'{"id": 1, "sql": 5}\n')
        f.flush()
        resp = json.loads(f.readline())
        assert resp["ok"] is False
        assert resp["error_type"] == "protocol"
        assert resp["id"] == 1
        # connection survives: a valid follow-up on the SAME socket works
        f.write(b'{"id": 2, "sql": "SELECT 1 AS one"}\n')
        f.flush()
        resp2 = json.loads(f.readline())
        assert resp2["ok"] is True and resp2["rows"] == [[1]]


def test_nan_and_inf_serialize_as_null(client):
    """Non-finite doubles must reach the wire as strict-JSON null,
    never bare NaN/Infinity tokens (RFC 8259)."""
    resp = client.sql(
        "SELECT CAST('NaN' AS DOUBLE) AS a, CAST('Infinity' AS DOUBLE) AS b, "
        "CAST(1.5 AS DOUBLE) AS c"
    )
    assert resp["rows"] == [[None, None, 1.5]]


def test_reads_run_concurrently_without_deadlock(server):
    """Read statements no longer serialize under the catalog lock: N
    threads issuing SELECTs at once must all complete."""
    import threading

    from algebraicdb_spark.server import Client

    results, errors = [], []

    def worker(i):
        try:
            with Client(port=server.port) as c:
                r = c.sql(f"SELECT COUNT(*) + {i} AS n FROM orders")
                results.append(r["rows"][0][0] - i)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors
    assert len(results) == 4 and len(set(results)) == 1


def test_parameterized_query_named_and_positional(client):
    """Parameterized SQL: values bind via Spark's parameter API, never
    via string interpolation — quoting-hostile values round-trip."""
    resp = client.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = :st",
        params={"st": "O"},
    )
    assert resp["rows"][0][0] > 0
    resp_pos = client.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = ?",
        params=["O"],
    )
    assert resp_pos["rows"] == resp["rows"]
    # a value full of SQL metacharacters binds safely and matches nothing
    hostile = "'; DROP TABLE orders; --"
    resp2 = client.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = :st",
        params={"st": hostile},
    )
    assert resp2["rows"] == [[0]]
    # catalog unharmed
    assert client.sql("SELECT COUNT(*) AS n FROM orders")["rows"][0][0] > 0


def test_bad_params_type_is_protocol_error(server):
    with socket.create_connection(("127.0.0.1", server.port), timeout=60) as s:
        f = s.makefile("rwb")
        f.write(b'{"id": 9, "sql": "SELECT 1", "params": "oops"}\n')
        f.flush()
        resp = json.loads(f.readline())
        assert resp["ok"] is False and resp["error_type"] == "protocol"


def test_explain_over_the_wire(client):
    resp = client.sql("EXPLAIN SELECT COUNT(*) AS n FROM orders")
    assert resp["ok"] and resp["columns"] == ["plan"]
    plan = "\n".join(r[0] for r in resp["rows"])
    assert "Physical Plan" in plan


def test_mutation_classifier_gates_overwrite_export():
    """COPY … TO is a lock-free read UNLESS it carries OVERWRITE, which
    deletes the existing target directory — that destructive form must
    serialize under the engine lock like any other mutation."""
    from algebraicdb_spark.engine import mutates

    assert not mutates("COPY t TO '/tmp/x'")
    assert not mutates("COPY t TO '/tmp/x' (FORMAT csv)")
    assert mutates("COPY t TO '/tmp/x' (OVERWRITE)")
    assert mutates("COPY t TO '/tmp/x' (FORMAT csv, OVERWRITE)")
    assert mutates("COPY t FROM '/tmp/x'")
    # the round-12 keyed-upsert statement serializes like MERGE
    assert mutates(
        "UPSERT INTO t BY KEY (k) TXN ('cdc', 1) SELECT 1 AS k"
    )
    # EXPLAIN stays a read — the engine itself rejects command payloads
    assert not mutates("EXPLAIN ANALYZE SELECT 1")
    # a malformed option list is refused by the handler, not locked
    assert not mutates("COPY t TO '/tmp/x' (BOGUS)")
    # lakehouse attach/CTAS and maintenance statements swap the table's
    # view or write engine dicts, so they serialize too
    for stmt in (
        "ATTACH TABLE t FROM delta LOCATION '/tmp/x'",
        "CREATE TABLE t FROM iceberg LOCATION '/tmp/x' AS SELECT 1 AS k",
        "OPTIMIZE TABLE t ZORDER BY (k)",
        "VACUUM t RETAIN 2",
        "REFRESH TABLE t",
        "RESTORE TABLE t TO VERSION AS OF 1",
        "ANALYZE TABLE t",
    ):
        assert mutates(stmt), stmt
    for stmt in ("SHOW STATS t", "DESCRIBE HISTORY t", "SHOW TBLPROPERTIES t"):
        assert not mutates(stmt), stmt


def test_fixpoint_over_the_wire(client):
    # WITH RECURSIVE / ITERATE classify as reads (no catalog lock)
    # and their unique temp views never leak into the shared catalog
    resp = client.sql(
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION "
        "SELECT n + 1 FROM t WHERE n < 6) "
        "SELECT CAST(SUM(n) AS BIGINT) AS s FROM t"
    )
    assert resp["rows"] == [[21]]
    resp = client.sql(
        "WITH ITERATE g(v) MAX 4 AS (SELECT 1 AS v "
        "STEP SELECT v * 3 AS v FROM g) SELECT MAX(v) AS m FROM g"
    )
    assert resp["rows"] == [[81]]
    tables = client.sql("SHOW TABLES")
    assert not any("__fixpoint" in str(r) for r in tables["rows"])
