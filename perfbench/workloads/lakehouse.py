"""Lakehouse statements inside ``serve_oltp``: one Delta and one Iceberg
table, committed to and read through the server.

Warm-up creates both tables from a slice of ``orders`` with
``CREATE TABLE ... FROM delta|iceberg LOCATION`` in the run's temp dir.
The pass runs a fixed commit sequence: ``UPDATE``, ``MERGE``,
``INSERT`` and ``DELETE``, each on the Delta table and then on the
Iceberg table, so every run commits every verb to both formats. The
seed picks the rows each commit touches and the values it writes. A
run of more than 4 blocks repeats the sequence once per 3 blocks. The
commits are spread evenly over the blocks; each is followed by an
aggregate read of the table it changed, and each block ends with a
``VERSION AS OF`` read of a seeded earlier Delta version. Each commit
also pays the engine's re-ATTACH of the new snapshot.

The tables carry ``o_orderdate`` as DATE: an Iceberg table created
from a TIMESTAMP column fails on read in this engine (the data file's
INT64 timestamp does not match the read schema).

``txnlog`` is left out on purpose: the roadmap retires it.
"""

from __future__ import annotations

import os

import fixture
from workloads.base import Op, same_rows

TABLE_SHARE = 0.2  # share of ``orders`` in each lakehouse table
TABLES = ("lh_delta", "lh_iceberg")
VERBS = ("update", "merge", "insert", "delete")
COLUMNS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
           "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority")
AGG = ("SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total, "
       "MAX(o_orderkey) AS max_key FROM {t} GROUP BY o_orderstatus")
VERSION_READ = ("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total "
                "FROM lh_delta VERSION AS OF {v}")
NEW_KEY_BASE = 10_000_000


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _is_meta(path: str) -> bool:
    return "_delta_log" in path or f"{os.sep}metadata{os.sep}" in path


class Lakehouse:
    """Plans, runs the untimed parts of, and checks the lakehouse ops.
    ``sql(statement)`` sends one statement the way the workload does."""

    def __init__(self, ctx, sql):
        self.sql = sql
        self.traced = ctx.tracer is not None
        self.rows = max(int(fixture.sizes(ctx.scale)["orders"] * TABLE_SHARE), 100)
        self.root = os.path.join(ctx.tmp, "lakehouse")
        self.paths = {t: os.path.join(self.root, t) for t in TABLES}
        self.live = set(range(self.rows))
        self.new_key = NEW_KEY_BASE
        self.delta_commits = 0
        self.commits: list[dict] = []
        self.extra: dict[str, float] = {}
        self._before: dict[str, int] = {}

    def warmup(self) -> None:
        for name, path in self.paths.items():
            fmt = name.split("_")[1]
            self.sql(f"CREATE TABLE {name} FROM {fmt} LOCATION '{path}' AS SELECT "
                     f"{COLUMNS} FROM orders WHERE o_orderkey < {self.rows}")
            self.sql(AGG.format(t=name))
        self.sql(VERSION_READ.format(v=0))

    # -- operations ----------------------------------------------------------

    def plan(self, rng, blocks: int) -> list[list]:
        """The lakehouse ops of each of ``blocks`` blocks."""
        seq = [(verb, name) for verb in VERBS for name in TABLES]
        seq *= max(1, round(blocks / 3))
        out = []
        for b in range(blocks):
            ops = []
            for verb, name in seq[b * len(seq) // blocks:(b + 1) * len(seq) // blocks]:
                ops.append(self._commit(rng, name, verb))
                ops.append(Op("lh_agg_read", "read", table=name, sql=AGG.format(t=name)))
                self.delta_commits += name == "lh_delta"
            v = rng.randrange(self.delta_commits + 1)
            ops.append(Op("lh_version_read", "read", version=v,
                          sql=VERSION_READ.format(v=v)))
            out.append(ops)
        return out

    def _commit(self, rng, name, verb):
        if verb == "insert":
            rows = [(self.new_key + j, rng.randrange(1000), rng.choice("OFP"),
                     round(rng.uniform(1000, 500000), 2),
                     f"199{rng.randrange(10)}-0{rng.randrange(1, 10)}-1{rng.randrange(10)}",
                     rng.choice(fixture.PRIORITIES)) for j in range(3)]
            self.new_key += 3
            values = ", ".join(f"({k}, {c}, '{s}', {p!r}, DATE '{d}', '{pr}')"
                               for k, c, s, p, d, pr in rows)
            return Op("lh_insert", "write", table=name, rows=rows,
                      sql=f"INSERT INTO {name} VALUES {values}")
        if verb in ("update", "delete"):
            lo = rng.randrange(self.rows - 60)
            while lo not in self.live:  # the commit must change rows
                lo = rng.randrange(self.rows - 60)
            if verb == "update":
                hi = lo + rng.randrange(20, 60)
                bump = round(rng.uniform(1, 100), 2)
                return Op("lh_update", "write", table=name, lo=lo, hi=hi, bump=bump, sql=(
                    f"UPDATE {name} SET o_totalprice = o_totalprice + {bump!r} "
                    f"WHERE o_orderkey BETWEEN {lo} AND {hi}"))
            hi = lo + rng.randrange(5, 20)
            self.live -= set(range(lo, hi + 1))
            return Op("lh_delete", "write", table=name, lo=lo, hi=hi,
                      sql=f"DELETE FROM {name} WHERE o_orderkey BETWEEN {lo} AND {hi}")
        src = dict((rng.randrange(self.rows), round(rng.uniform(1000, 500000), 2))
                   for _ in range(3))
        src.update((self.new_key + j, round(rng.uniform(1000, 500000), 2)) for j in range(2))
        self.new_key += 2
        return Op("lh_merge", "write", table=name, src=list(src.items()), sql=(
            f"MERGE INTO {name} USING m_src ON {name}.o_orderkey = m_src.k "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = m_src.v "
            "WHEN NOT MATCHED THEN INSERT VALUES "
            "(m_src.k, 1, 'P', m_src.v, DATE '2000-01-01', '2-HIGH')"))

    def prepare(self, op) -> None:
        if op.kind == "lh_merge":
            values = ", ".join(f"(CAST({k} AS BIGINT), CAST({v!r} AS DOUBLE))"
                               for k, v in op.args["src"])
            self.sql(f"CREATE TABLE m_src AS SELECT * FROM VALUES {values} AS s(k, v)")
        if op.kind.startswith("lh_") and op.cls == "write":
            self._before = _dir_files(self.paths[op.args["table"]])

    def finish(self, op) -> None:
        if not op.kind.startswith("lh_") or op.cls != "write":
            return
        new = {p: n for p, n in _dir_files(self.paths[op.args["table"]]).items()
               if p not in self._before}
        self.commits.append({
            "files": sum(not _is_meta(p) for p in new),
            "data_bytes": sum(n for p, n in new.items() if not _is_meta(p)),
            "meta_bytes": sum(n for p, n in new.items() if _is_meta(p)),
        })

    # -- checks --------------------------------------------------------------

    def check(self, con, ops, engine) -> dict[int, str]:
        """Replay every commit in DuckDB; compare each read where it
        happened, the final tables row for row, and one Delta version
        per Delta commit."""
        for name in self.paths:
            con.execute(f"CREATE TABLE {name} AS SELECT {COLUMNS} FROM orders "
                        f"WHERE o_orderkey < {self.rows}")
        versions = [self._agg_version(con)]
        bad: dict[int, str] = {}
        changed = 0
        last = 0
        for i, op in enumerate(ops):
            if not op.kind.startswith("lh_"):
                continue
            last = i
            a = op.args
            if op.cls == "write":
                changed += self._apply(con, op)
                if a["table"] == "lh_delta":
                    versions.append(self._agg_version(con))
                continue
            if op.result is None:
                continue
            want = (versions[a["version"]] if op.kind == "lh_version_read"
                    else con.execute(AGG.format(t=a["table"])).fetchall())
            why = same_rows(op.result["rows"], want)
            if why:
                bad[i] = f"{op.kind}: {why}"
        for name in self.paths:
            got = [tuple(r) for r in engine.table(name).collect()]
            why = same_rows(got, con.execute(f"SELECT * FROM {name}").fetchall())
            if why:
                bad.setdefault(last, f"final {name}: {why}")
        from algebraicdb_spark.operators.delta_writer import DeltaTableWriter

        latest = DeltaTableWriter(self.paths["lh_delta"]).latest_version()
        if latest != len(versions) - 1:
            bad.setdefault(last, f"delta at version {latest}, expected {len(versions) - 1}")
        if self.traced:  # per-layer only: costs two more CTAS per run
            self._storage(changed, engine)
        return bad

    @staticmethod
    def _agg_version(con) -> list:
        return con.execute("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total "
                           "FROM lh_delta").fetchall()

    @staticmethod
    def _apply(con, op) -> int:
        """Replay one commit in DuckDB; return the rows it changed."""
        a, t = op.args, op.args["table"]
        if op.kind == "lh_insert":
            con.executemany(f"INSERT INTO {t} VALUES (?, ?, ?, ?, CAST(? AS DATE), ?)", a["rows"])
            return len(a["rows"])
        if op.kind == "lh_update":
            return con.execute(f"UPDATE {t} SET o_totalprice = o_totalprice + ? "
                               "WHERE o_orderkey BETWEEN ? AND ?",
                               [a["bump"], a["lo"], a["hi"]]).fetchone()[0]
        if op.kind == "lh_delete":
            return con.execute(f"DELETE FROM {t} WHERE o_orderkey BETWEEN ? AND ?",
                               [a["lo"], a["hi"]]).fetchone()[0]
        for k, v in a["src"]:
            hit = con.execute(f"UPDATE {t} SET o_totalprice = ? WHERE o_orderkey = ?",
                              [v, k]).fetchone()[0]
            if not hit:
                con.execute(f"INSERT INTO {t} VALUES (?, 1, 'P', ?, DATE '2000-01-01', '2-HIGH')",
                            [k, v])
        return len(a["src"])

    def _storage(self, rows_changed: int, engine) -> None:
        """Space and write amplification against a fresh copy of the
        final rows, written once by CTAS (untimed)."""
        live = fresh = fresh_rows = files_live = 0
        for name, path in self.paths.items():
            fmt = name.split("_")[1]
            fpath = os.path.join(self.root, f"fresh_{fmt}")
            engine.sql(f"CREATE TABLE fresh_{fmt} FROM {fmt} LOCATION '{fpath}' "
                       f"AS SELECT * FROM {name}")
            live += sum(_dir_files(path).values())
            fresh += sum(n for p, n in _dir_files(fpath).items() if not _is_meta(p))
            fresh_rows += engine.table(name).count()
            files_live += len(engine.table(name).inputFiles())
        written = sum(c["data_bytes"] for c in self.commits)
        self.extra = {
            "space_amp": live / fresh,
            "commit.files_added": float(sum(c["files"] for c in self.commits)),
            "commit.bytes_written": float(written),
            "commit.meta_bytes": float(sum(c["meta_bytes"] for c in self.commits)),
            "write_amp": written / max(rows_changed * fresh / max(fresh_rows, 1), 1.0),
            "read.files_live": float(files_live),
        }

    # -- traced run ----------------------------------------------------------

    @staticmethod
    def install_trace(tracer) -> None:
        from algebraicdb_spark.operators import delta_writer, iceberg, iceberg_writer, txnlog

        for cls in (delta_writer.DeltaTableWriter, iceberg_writer.IcebergTableWriter):
            for m in ("append", "update", "delete", "merge"):
                tracer.wrap(cls, m, f"commit.{m}")
        tracer.wrap(txnlog.DeltaLogTable, "snapshot", "attach.snapshot")
        tracer.wrap(iceberg.IcebergTable, "snapshot", "attach.snapshot")
