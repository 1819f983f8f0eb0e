"""What the workloads share: the op loop hooks, the DuckDB
oracle over the fixture, answer comparison and the per-layer rollup."""

from __future__ import annotations

import math
import random
import statistics

import duckdb

from tracing import self_times, spark_status, jvm_memory

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: spans whose self time is result materialization (``exec_s``)
EXEC_SPANS = ("noop.write", "fetch", "server.execute")


class Op:
    """One timed operation: ``kind`` names the statement shape, ``cls``
    its class (read / write / iterate / key)."""

    __slots__ = ("kind", "cls", "args", "latency_s", "result", "error")

    def __init__(self, kind: str, cls: str, **args):
        self.kind, self.cls, self.args = kind, cls, args
        self.latency_s = 0.0
        self.result = None
        self.error: str | None = None


class Context:
    """What a workload gets: the session, paths, seed and tracer."""

    def __init__(self, spark, fixture_dir, scale, tmp, seed, seconds, tracer):
        self.spark = spark
        self.fixture_dir = fixture_dir
        self.scale = scale
        self.tmp = tmp
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.tracer = tracer


def duck(fixture_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per fixture table (the oracle side)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def _key(row) -> tuple:
    return tuple(("~" if v is None else
                  f"{v:.2f}" if isinstance(v, float) else str(v)) for v in row)


def same_rows(got: list, want: list) -> str | None:
    """Order-insensitive comparison; doubles match to 1e-9 relative.
    Returns None when equal, else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(sorted(map(tuple, got), key=_key), sorted(map(tuple, want), key=_key)):
        if len(g) != len(w):
            return f"row width {len(g)} != {len(w)}"
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        float(a), float(b), rel_tol=1e-9, abs_tol=1e-6):
                    return f"value {a!r} != {b!r} in {g}"
            elif (a if a is None else str(a)) != (b if b is None else str(b)):
                return f"value {a!r} != {b!r} in {g}"
    return None


def _median(v):
    return statistics.median(v) if v else 0.0


class Workload:
    """Hooks ``run.measure`` calls, in order: ``attach`` (three times),
    ``warmup``, ``plan``, then per op ``prepare`` (untimed) and ``run``
    (timed), then ``layer_metrics`` (traced runs), ``check``,
    ``extra_record`` and ``close``."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def prepare(self, op) -> None:
        """Untimed work before ``run(op)``."""

    def finish(self, op) -> None:
        """Untimed work after ``run(op)``."""

    def extra_record(self) -> dict:
        return {}

    def close(self) -> None:
        pass

    def install_trace(self, tracer) -> None:
        from algebraicdb_spark import fixpoint
        from algebraicdb_spark.engine import Engine

        tracer.wrap(Engine, "sql", "engine.sql",
                    on_return=lambda df: setattr(tracer, "last_df", df))
        tracer.wrap(fixpoint, "run_fixpoint", "fixpoint.run")

    def workload_layers(self, ops, tracer) -> dict:
        """Layer metrics only this workload has."""
        return {}

    def layer_metrics(self, ops, tracer, pass_s: float) -> dict:
        """Per-layer rollup of one traced pass (see METRICS.md)."""
        spans = tracer.spans
        selft = self_times(spans)
        with tracer.quiet():
            status = spark_status(self.spark)
            jvm = jvm_memory(self.spark)
        by_op: dict[int, list] = {}
        for s in spans:
            if s.op is not None:
                by_op.setdefault(s.op, []).append(s)

        def total(name, field="dur", cls=None):
            out = 0.0
            for s in spans:
                if s.name == name and s.op is not None and (
                        cls is None or ops[s.op].cls == cls):
                    out += (s.t1 - s.t0) if field == "dur" else selft[s.id]
            return out

        def op_status(i, key):
            return sum(v[key] for g, v in status.items()
                       if g == f"perfbench-op-{i}" or g.startswith(f"perfbench-op-{i}-"))

        def status_total(key, cls=None, suffix=None):
            out = 0.0
            for g, v in status.items():
                parts = g.split("-")
                if len(parts) < 3 or not parts[2].isdigit():
                    continue
                if cls is not None and ops[int(parts[2])].cls != cls:
                    continue
                if suffix is not None and (len(parts) < 4 or parts[3] != suffix):
                    continue
                out += v[key]
            return out

        py4j_per_op = [sum(s.py4j for s in ss) for ss in by_op.values()]
        # share of each op's wall time that layer spans account for:
        # what is left is the root's self time, time in no layer
        coverage = []
        for ss in by_op.values():
            for r in ss:
                if r.parent is None:
                    coverage.append(1.0 - selft[r.id] / (r.t1 - r.t0))
        cat = [op.args.get("catalyst_ms") for op in ops if op.args.get("catalyst_ms")]
        lower = [sum(s.t1 - s.t0 for s in ss if s.name == "engine.sql") * 1e3
                 for ss in by_op.values() if any(s.name == "engine.sql" for s in ss)]
        out = {
            "engine.lower_ms.p50": _median(lower),
            "catalyst.analysis_ms": _median([c.get("analysis", 0.0) for c in cat]),
            "catalyst.optimization_ms": _median([c.get("optimization", 0.0) for c in cat]),
            "catalyst.planning_ms": _median([c.get("planning", 0.0) for c in cat]),
            "py4j.calls": float(sum(py4j_per_op)),
            "py4j.calls_per_op.p50": _median(py4j_per_op),
            "jobs": status_total("jobs"),
            "stages": status_total("stages"),
            "tasks": status_total("tasks"),
            "iterate.build_s": total("fixpoint.run"),
            "iterate.fetch_s": total("server.execute", "self", cls="iterate"),
            "iterate.jobs": status_total("jobs", cls="iterate"),
            "build_s": total("registry.build"),
            "build.jobs": status_total("jobs", cls="key", suffix="build"),
            "build.py4j_calls": float(sum(s.py4j for s in spans if s.name == "registry.build")),
            "exec_s": sum(total(n, "self") for n in EXEC_SPANS),
            "exec.task_run_s": status_total("task_run_s"),
            "exec.task_cpu_s": status_total("task_cpu_s"),
            "exec.gc_s": status_total("gc_s"),
            "exec.input_mb": status_total("input_mb"),
            "exec.shuffle_read_mb": status_total("shuffle_read_mb"),
            "exec.shuffle_write_mb": status_total("shuffle_write_mb"),
            "exec.spill_mb": status_total("spill_mb"),
            "python.rows_out": status_total("python_rows_out"),
            "python.mb_in": status_total("python_mb_in"),
            "python.s": status_total("python_s"),
            "jvm.heap_peak_mb": jvm["heap_peak_mb"],
            "jvm.gc_s": jvm["gc_s"],
            "trace.pass_s": pass_s,
            "trace.bookkeeping_s": tracer.bookkeeping_s,
            "trace.coverage_min": min(coverage) if coverage else 0.0,
        }
        for i, op in enumerate(ops):
            op.args["jobs"] = op_status(i, "jobs")
        out.update(self.workload_layers(ops, tracer))
        return out
