"""Client/server surface over :class:`~algebraicdb_spark.engine.Engine`.

The reference is a client/server DBMS (SURVEY §3.1 `[R-high]`): a
daemon owns the session/catalog, thin clients send statements and get
result sets back. This module provides that workflow Spark-first:

  - the SERVER owns one SparkSession + Engine (catalog, declared ADTs,
    view-lowered mutations) and executes statements via Catalyst;
  - the WIRE PROTOCOL is newline-delimited JSON — one request object
    per line in (``{"id": 1, "sql": "SELECT …"}``, optionally with
    ``"params"``: a dict binding ``:name`` markers or a list binding
    ``?`` markers through Spark's parameterized SQL — values never
    enter the statement text, so clients need no quoting/escaping),
    one response object
    per line out (columns, rows, truncation flag, timing, or a typed
    error). Line-oriented JSON keeps the protocol transcript-readable
    and language-agnostic without inventing a binary format;
  - result pages are BOUNDED (``max_rows``, like any DB shell's fetch
    size): the server collects ``limit(max_rows+1)`` — never an
    unbounded ``collect()`` — so a SELECT over a 100 TB table costs
    one Catalyst job producing ≤ max_rows+1 rows, not a driver OOM.
    ``truncated: true`` tells the client there was more.

Concurrency: a threading TCP server; each connection's statements go
straight to the shared Engine. The engine, not the server, serializes
catalog mutations (temp-view swaps, type and function declarations,
lakehouse commits) under its own lock, so each stays atomic per
statement; reads run lock-free in parallel (Spark actions are
thread-safe on one session — the JVM scheduler interleaves jobs).

Usage:
    python -m algebraicdb_spark.server --port 7433 --sf-dir /root/testdata/sf0.01
    # then from any client:
    #   {"id": 1, "sql": "SELECT COUNT(*) AS n FROM orders"}
or programmatically::

    srv = EngineServer(engine)                 # port 0 = ephemeral
    with Client(port=srv.port) as c:
        c.sql("CREATE TYPE Shape = Circle(r: Double) | Point")
        rows = c.sql("SELECT 1 AS one")["rows"]
    srv.shutdown()

The REPL (`repl()` / ``--repl``) is the same client loop on stdin.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import socket
import socketserver
import threading
import time
from typing import Any

from algebraicdb_spark.engine import Engine
from algebraicdb_spark.functions.adt import AdtError, AdtType

DEFAULT_PORT = 7433
DEFAULT_MAX_ROWS = 1000


def _json_safe(v: Any) -> Any:
    """Map a collected Spark value onto the JSON wire types.

    Non-finite doubles become ``null``: bare ``NaN``/``Infinity``
    tokens are invalid JSON per RFC 8259 and break strict parsers in
    other languages (responses are also serialized with
    ``allow_nan=False`` so any leak fails loudly server-side).
    """
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return {str(k): _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if hasattr(v, "asDict"):  # Row / struct
        return {k: _json_safe(x) for k, x in v.asDict().items()}
    return v


def execute(
    engine: Engine,
    sql: str,
    max_rows: int = DEFAULT_MAX_ROWS,
    params: dict | list | None = None,
) -> dict:
    """Run one statement, return the wire-shape response dict."""
    t0 = time.monotonic()
    try:
        result = engine.sql(sql, params=params)
    except AdtError as exc:
        return {"ok": False, "error": str(exc), "error_type": "dialect"}
    except Exception as exc:  # Spark analysis/runtime errors
        return {"ok": False, "error": str(exc)[:2000], "error_type": type(exc).__name__}
    elapsed_ms = round((time.monotonic() - t0) * 1000, 3)
    if result is None:  # DDL / mutation statements
        return {"ok": True, "rows": [], "columns": [], "row_count": 0,
                "truncated": False, "elapsed_ms": elapsed_ms}
    if isinstance(result, AdtType):
        return {"ok": True, "rows": [], "columns": [],
                "type_declared": result.name, "row_count": 0,
                "truncated": False, "elapsed_ms": elapsed_ms}
    # DataFrame: bounded fetch — one job, ≤ max_rows+1 rows at the driver
    collected = result.limit(max_rows + 1).collect()
    truncated = len(collected) > max_rows
    rows = [[_json_safe(v) for v in r] for r in collected[:max_rows]]
    return {
        "ok": True,
        "columns": list(result.columns),
        "rows": rows,
        "row_count": len(rows),
        "truncated": truncated,
        "elapsed_ms": round((time.monotonic() - t0) * 1000, 3),
    }


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        server: EngineServer = self.server  # type: ignore[assignment]
        for raw in self.rfile:
            line = raw.decode("utf-8").strip()
            if not line:
                continue
            req: Any = {}
            try:
                req = json.loads(line)
                sql = req["sql"]
                if not isinstance(sql, str):
                    raise TypeError(f'"sql" must be a string, got {type(sql).__name__}')
                params = req.get("params")
                if params is not None and not isinstance(params, (dict, list)):
                    raise TypeError(
                        f'"params" must be an object or array, got {type(params).__name__}'
                    )
            except Exception as exc:
                resp = {"ok": False, "error": f"bad request: {exc}",
                        "error_type": "protocol"}
            else:
                if sql.strip().rstrip(";").lower() in (".quit", "quit", "exit"):
                    break
                resp = execute(server.engine, sql, server.max_rows,
                               params=params)
            if isinstance(req, dict) and "id" in req:
                resp["id"] = req["id"]
            self.wfile.write((json.dumps(resp, allow_nan=False) + "\n").encode("utf-8"))
            self.wfile.flush()


class EngineServer(socketserver.ThreadingTCPServer):
    """Threaded line-protocol server owning one Engine."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0,
                 max_rows: int = DEFAULT_MAX_ROWS, start: bool = True):
        super().__init__((host, port), _Handler)
        self.engine = engine
        self.max_rows = max_rows
        self._thread: threading.Thread | None = None
        if start:
            self._thread = threading.Thread(target=self.serve_forever, daemon=True)
            self._thread.start()

    @property
    def port(self) -> int:
        return self.server_address[1]

    def shutdown(self) -> None:  # type: ignore[override]
        super().shutdown()
        self.server_close()


class Client:
    """Thin blocking client for the line protocol."""

    def __init__(self, host: str = "127.0.0.1", port: int = DEFAULT_PORT,
                 timeout: float = 300.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")
        self._next_id = 0

    def sql(self, statement: str, params: dict | list | None = None) -> dict:
        self._next_id += 1
        req: dict = {"id": self._next_id, "sql": statement}
        if params is not None:
            req["params"] = params
        self._sock.sendall((json.dumps(req) + "\n").encode("utf-8"))
        line = self._rfile.readline()
        if not line:
            raise ConnectionError("server closed the connection")
        resp = json.loads(line)
        if not resp.get("ok"):
            raise RuntimeError(f"[{resp.get('error_type')}] {resp.get('error')}")
        return resp

    def close(self) -> None:
        try:
            self._sock.close()
        finally:
            self._rfile.close()

    def __enter__(self) -> "Client":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def repl(engine: Engine, max_rows: int = 25) -> None:
    """Interactive statement loop on stdin (the reference's CLI shape)."""
    print("algebraicdb-spark> dialect REPL — '.quit' to exit", flush=True)
    while True:
        try:
            stmt = input("sql> ").strip()
        except EOFError:
            break
        if not stmt:
            continue
        if stmt.rstrip(";").lower() in (".quit", "quit", "exit"):
            break
        resp = execute(engine, stmt, max_rows=max_rows)
        if not resp["ok"]:
            print(f"ERROR [{resp['error_type']}]: {resp['error']}", flush=True)
            continue
        if resp.get("type_declared"):
            print(f"type {resp['type_declared']} declared", flush=True)
            continue
        if resp["columns"]:
            print(" | ".join(resp["columns"]), flush=True)
            for row in resp["rows"]:
                print(" | ".join(str(v) for v in row), flush=True)
        more = " (+more)" if resp["truncated"] else ""
        print(f"-- {resp['row_count']} row(s){more}, {resp['elapsed_ms']} ms",
              flush=True)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, default=DEFAULT_PORT)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--sf-dir", default=None, help="fixture dir to attach")
    ap.add_argument("--max-rows", type=int, default=DEFAULT_MAX_ROWS)
    ap.add_argument("--repl", action="store_true", help="stdin REPL, no socket")
    args = ap.parse_args()

    engine = Engine(sf_dir=args.sf_dir)
    if args.repl:
        repl(engine)
        return 0
    srv = EngineServer(engine, host=args.host, port=args.port,
                       max_rows=args.max_rows, start=False)
    print(f"algebraicdb-spark server on {args.host}:{srv.port}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
