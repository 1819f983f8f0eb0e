"""serve_oltp: the paper's user, talking to the line-protocol server.

One client sends statements to an in-process ``EngineServer`` over
TCP, one at a time (closed loop). Per block of 10 statements:

- reads: 4 point lookups on ``orders`` (``:k`` parameter), one small
  ``GROUP BY`` over a customer-key range, one customer-nation-orders
  join, two ADT pattern reads (a ``WHERE p: Card(...)`` pattern and a
  ``MATCH`` aggregate) on ``payments``, a dialect table created fresh
  at warm-up;
- writes: an ``INSERT`` and, alternating by block, an ``UPDATE`` or a
  ``DELETE`` on ``payments``.

The mix is fixed; the seed picks keys, ranges and inserted values.

Each block adds one recursive statement, alternating a
``WITH ITERATE ... MAX n`` k-core peel (the ``dialect_iterate_kcore``
text over a seeded slice of ``lineitem``, run by the fixpoint runner)
and a depth-bounded ``WITH RECURSIVE ... UNION ALL`` walk (run
natively by Spark), and its share of the lakehouse commits and reads
(``workloads/lakehouse.py``).

``payments`` keeps its whole write sequence for the run: dialect
writes stack a view over the previous one, so reads slow down as the
table is written, and that cost stays in the numbers.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter

from algebraicdb_spark.operators.graph import KCORE_K, MIN_QTY

import fixture
from tracing import self_times
from workloads.base import Op, Workload as Base, duck, same_rows
from workloads.lakehouse import Lakehouse

BLOCK_S = 7.5  # wall time of one block on a 4-core host
INITIAL_ROWS = 40
ADT = ("CREATE TYPE Pay = Card(amount: Double, last4: Integer) "
       "| Cash(amount: Double) | Voucher(code: Text)")

LOOKUP = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
          "o_orderpriority FROM orders WHERE o_orderkey = :k")
GROUPBY = ("SELECT o_orderpriority, COUNT(*) AS n, MIN(o_totalprice) AS lo, "
           "MAX(o_totalprice) AS hi FROM orders "
           "WHERE o_custkey BETWEEN :lo AND :hi GROUP BY o_orderpriority")
JOIN = ("SELECT n.n_name, COUNT(*) AS n_orders, SUM(o.o_totalprice) AS total "
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN orders o ON o.o_custkey = c.c_custkey "
        "WHERE c.c_custkey BETWEEN :lo AND :hi GROUP BY n.n_name")
ADT_PATTERN = ("SELECT id, amount FROM payments "
               "WHERE p: Card(amount, l4) AND amount > :x")
ADT_MATCH = ("SELECT cust, COUNT(*) AS n, "
             "SUM(MATCH p { Card(a, l) => a, Cash(a) => a, _ => 0.0 }) AS total "
             "FROM payments WHERE cust BETWEEN :lo AND :hi GROUP BY cust")
# DuckDB twins over the flattened shadow table
DUCK = {
    "lookup": LOOKUP.replace(":k", "$k"),
    "groupby": GROUPBY.replace(":lo", "$lo").replace(":hi", "$hi"),
    "join": JOIN.replace(":lo", "$lo").replace(":hi", "$hi"),
    "adt_pattern": "SELECT id, amount FROM payments WHERE tag = 'Card' AND amount > $x",
    "adt_match": ("SELECT cust, COUNT(*) AS n, SUM(CASE WHEN tag IN ('Card', 'Cash') "
                  "THEN amount ELSE 0.0 END) AS total FROM payments "
                  "WHERE cust BETWEEN $lo AND $hi GROUP BY cust"),
}

KCORE = """
WITH ITERATE live(pa, pb) MAX {rounds} AS (
  SELECT DISTINCT pr.pa, pr.pb FROM (
    SELECT sort_array(collect_set(l_partkey % {m})) AS arr
    FROM lineitem WHERE l_quantity >= {min_qty}
      AND l_orderkey BETWEEN {lo} AND {hi} GROUP BY l_orderkey
  ) b
  LATERAL VIEW inline(flatten(transform(b.arr, (x, i) ->
    transform(slice(b.arr, i + 2, size(b.arr)),
              y -> struct(x AS pa, y AS pb))))) pr
  STEP
  WITH deg AS (
    SELECT node FROM (SELECT pa AS node FROM live UNION ALL
                      SELECT pb FROM live) GROUP BY node
    HAVING COUNT(*) >= {k})
  SELECT /*+ BROADCAST(deg) */ e.pa, e.pb FROM live e
  WHERE e.pa IN (SELECT node FROM deg) AND e.pb IN (SELECT node FROM deg)
),
core_deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT pa AS node FROM live UNION ALL SELECT pb FROM live
  ) GROUP BY node
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
       COALESCE(CAST(SUM(d) AS BIGINT), 0) DIV 2 AS n_core_edges,
       CAST(SUM(node) AS BIGINT) AS node_checksum,
       MIN(d) AS min_core_deg
FROM core_deg
"""
REACH = """
WITH RECURSIVE walk(id, depth) AS (
  SELECT DISTINCT l_partkey % {m} AS id, 0 AS depth
  FROM lineitem WHERE l_orderkey = {lo}
  UNION ALL
  SELECT e.dst, w.depth + 1 FROM walk w JOIN (
    SELECT DISTINCT a.l_partkey % {m} AS src, b.l_partkey % {m} AS dst
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_orderkey BETWEEN {lo} AND {hi}
      AND a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
  ) e ON e.src = w.id WHERE w.depth < {depth}
)
SELECT depth, COUNT(*) AS n_paths, COUNT(DISTINCT id) AS n_nodes
FROM walk GROUP BY depth
"""


class Workload(Base):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.server = self.client = self.engine = None
        rng = ctx.rng
        self.initial = [self._payment(i, rng) for i in range(INITIAL_ROWS)]
        self.next_id = INITIAL_ROWS
        self.lake = Lakehouse(ctx, lambda stmt: self.client.sql(stmt))

    @staticmethod
    def _payment(pid: int, rng) -> tuple:
        tag = rng.choice(("Card", "Cash", "Voucher"))
        amount = round(rng.uniform(1.0, 500.0), 2)
        return (pid, rng.randrange(100), tag,
                amount if tag != "Voucher" else None,
                rng.randrange(10000) if tag == "Card" else None,
                f"v{rng.randrange(10**6)}" if tag == "Voucher" else None)

    @staticmethod
    def _literal(row) -> str:
        pid, cust, tag, amount, last4, code = row
        p = {"Card": f"Card({amount!r}, {last4})", "Cash": f"Cash({amount!r})",
             "Voucher": f"Voucher('{code}')"}[tag]
        return f"({pid}, {cust}, {p})"

    # -- setup -------------------------------------------------------------

    def attach(self, spark) -> None:
        from algebraicdb_spark.engine import Engine

        self.engine = Engine(spark, sf_dir=self.ctx.fixture_dir)

    def warmup(self) -> None:
        from algebraicdb_spark.server import Client, EngineServer

        self.server = EngineServer(self.engine)
        self.client = Client(port=self.server.port)
        self.client.sql(ADT)
        self.client.sql("CREATE TABLE payments (id: Integer, cust: Integer, p: Pay)")
        for i in range(0, INITIAL_ROWS, 20):
            self.client.sql("INSERT INTO payments VALUES "
                            + ", ".join(map(self._literal, self.initial[i:i + 20])))
        # one of each read shape, untimed (JIT, codegen, Python imports)
        rng = self.ctx.rng.__class__(0)
        for op in (self._read(k, rng) for k in DUCK):
            self.client.sql(op.args["sql"], op.args["params"])
        for kind in ("kcore", "reach"):
            self.client.sql(self._iterate(rng, kind, span=20).args["sql"])
        self.lake.warmup()

    # -- operations ----------------------------------------------------------

    def _read(self, kind, rng):
        n_orders = self._n("orders")
        n_cust = self._n("customer")
        if kind == "lookup":
            params = {"k": rng.randrange(n_orders)}
        elif kind in ("groupby", "join"):
            width = min(500 if kind == "groupby" else 200, n_cust // 4)
            lo = rng.randrange(n_cust - width)
            params = {"lo": lo, "hi": lo + width - 1}
        elif kind == "adt_pattern":
            params = {"x": round(rng.uniform(0.0, 450.0), 2)}
        else:
            lo = rng.randrange(80)
            params = {"lo": lo, "hi": lo + 19}
        sql = {"lookup": LOOKUP, "groupby": GROUPBY, "join": JOIN,
               "adt_pattern": ADT_PATTERN, "adt_match": ADT_MATCH}[kind]
        return Op(kind, "read", sql=sql, params=params)

    def _iterate(self, rng, kind, span=None):
        lo = rng.randrange(self._n("orders") - 400)
        args = {"lo": lo, "hi": lo + (span or rng.randrange(150, 400)),
                "m": rng.randrange(16, 32), "min_qty": MIN_QTY, "depth": 2}
        if kind == "kcore":
            args.update(rounds=rng.randrange(5, 9), k=KCORE_K)
            return Op("iterate_kcore", "iterate", sql=KCORE.format(**args), **args)
        return Op("recursive_reach", "iterate", sql=REACH.format(**args), **args)

    def _n(self, table):
        return fixture.sizes(self.ctx.scale)[table]

    def plan(self) -> list:
        rng = self.ctx.rng
        live = [r[0] for r in self.initial]
        blocks = max(1, round(self.ctx.seconds / BLOCK_S))
        lake = self.lake.plan(rng, blocks)
        ops = []
        for b in range(blocks):
            block = [self._read("lookup", rng) for _ in range(4)]
            block += [self._read(k, rng) for k in ("groupby", "join", "adt_pattern", "adt_match")]
            for verb in ("insert", ("update", "delete")[b % 2]):
                if verb == "insert":
                    rows = [self._payment(self.next_id + j, rng) for j in range(2)]
                    self.next_id += 2
                    live += [r[0] for r in rows]
                    block.append(Op("insert", "write", rows=rows, sql="INSERT INTO payments VALUES "
                                    + ", ".join(map(self._literal, rows))))
                elif verb == "update":
                    pid, cust = rng.choice(live), rng.randrange(100)
                    block.append(Op("update", "write", id=pid, cust=cust,
                                    sql=f"UPDATE payments SET cust = {cust} WHERE id = {pid}"))
                else:
                    pid = live.pop(rng.randrange(len(live)))
                    block.append(Op("delete", "write", id=pid,
                                    sql=f"DELETE FROM payments WHERE id = {pid}"))
            block.append(self._iterate(rng, "kcore" if b % 2 == 0 else "reach"))
            rng.shuffle(block)
            ops += block + lake[b]
        return ops

    def prepare(self, op) -> None:
        self.lake.prepare(op)

    def run(self, op):
        return self.client.sql(op.args["sql"], op.args.get("params"))

    def finish(self, op) -> None:
        self.lake.finish(op)

    def extra_record(self) -> dict:
        n = len(self.lake.commits)
        return {k: {"value": v, "n": n} for k, v in self.lake.extra.items()}

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.shutdown()

    # -- checks --------------------------------------------------------------

    def check(self, ops) -> dict[int, str]:
        con = duck(self.ctx.fixture_dir)
        con.execute("CREATE TABLE payments (id INTEGER, cust INTEGER, tag VARCHAR, "
                    "amount DOUBLE, last4 INTEGER, code VARCHAR)")
        con.executemany("INSERT INTO payments VALUES (?, ?, ?, ?, ?, ?)", self.initial)
        bad: dict[int, str] = {}
        iter_cache: dict[str, list] = {}
        for i, op in enumerate(ops):
            a = op.args
            if op.kind == "insert":
                con.executemany("INSERT INTO payments VALUES (?, ?, ?, ?, ?, ?)", a["rows"])
            elif op.kind == "update":
                con.execute("UPDATE payments SET cust = ? WHERE id = ?", [a["cust"], a["id"]])
            elif op.kind == "delete":
                con.execute("DELETE FROM payments WHERE id = ?", [a["id"]])
            if op.result is None or op.kind.startswith("lh_"):
                continue
            if op.cls == "read":
                want = con.execute(DUCK[op.kind], a["params"]).fetchall()
            elif op.cls == "iterate":
                if a["sql"] not in iter_cache:
                    iter_cache[a["sql"]] = (self._kcore(con, a) if op.kind == "iterate_kcore"
                                            else con.execute(a["sql"]).fetchall())
                want = iter_cache[a["sql"]]
            else:
                continue
            why = same_rows(op.result["rows"], want)
            if why:
                bad[i] = f"{op.kind}: {why}"
        bad.update(self.lake.check(con, ops, self.engine))
        con.close()
        return bad

    @staticmethod
    def _kcore(con, a) -> list:
        """The bounded k-core peel, replayed in Python over DuckDB rows."""
        rows = con.execute(
            "SELECT l_orderkey, list_sort(list_distinct(list(l_partkey % $m))) "
            "FROM lineitem WHERE l_quantity >= $q AND l_orderkey BETWEEN $lo AND $hi "
            "GROUP BY l_orderkey",
            {"m": a["m"], "q": a["min_qty"], "lo": a["lo"], "hi": a["hi"]}).fetchall()
        state = {(x, y) for _, arr in rows for i, x in enumerate(arr) for y in arr[i + 1:]}
        for _ in range(a["rounds"]):
            deg = Counter(n for e in state for n in e)
            keep = {n for n, d in deg.items() if d >= a["k"]}
            nxt = {e for e in state if e[0] in keep and e[1] in keep}
            if nxt == state:
                break
            state = nxt
        deg = Counter(n for e in state for n in e)
        if not deg:
            return [(0, 0, None, None)]
        return [(len(deg), sum(deg.values()) // 2, sum(deg), min(deg.values()))]

    # -- traced run ----------------------------------------------------------

    def install_trace(self, tracer) -> None:
        from algebraicdb_spark import server

        super().install_trace(tracer)
        tracer.wrap(server.Client, "sql", "client.sql")
        tracer.wrap(server, "execute", "server.execute", before=tracer.set_job_group)
        self.lake.install_trace(tracer)

    def workload_layers(self, ops, tracer) -> dict:
        rtt, exe, wire, kb, fetch = [], [], [], [], []
        selft = self_times(tracer.spans)
        for s in tracer.spans:
            if s.name == "server.execute" and s.op is not None and ops[s.op].cls == "read":
                fetch.append(selft[s.id] * 1e3)
        for op in ops:
            if op.result is None:
                continue
            r_ms = op.latency_s * 1e3
            e_ms = op.result["elapsed_ms"]
            rtt.append(r_ms)
            exe.append(e_ms)
            wire.append(r_ms - e_ms)
            kb.append(len(json.dumps(op.result)) / 1024)
        with tracer.quiet():
            leaves = self.engine.table("payments")._jdf.queryExecution() \
                .analyzed().collectLeaves().size()
        return {
            "server.rtt_ms.p50": statistics.median(rtt),
            "server.exec_ms.p50": statistics.median(exe),
            "server.wire_ms.p50": statistics.median(wire),
            "server.resp_kb.mean": statistics.fmean(kb),
            "engine.fetch_ms.p50": statistics.median(fetch) if fetch else 0.0,
            "engine.adt_plan_leaves": float(leaves),
            "commit.jobs": float(sum(op.args.get("jobs", 0) for op in ops
                                     if op.kind.startswith("lh_") and op.cls == "write")),
            **self.lake.extra,
        }
