"""Benchmark entry point: one workload, one fresh process, one client.

    python3 perfbench/run.py --workload serve_oltp --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run

1. builds the fixture tables once per checkout under the build dir
   (``$CARGO_TARGET_DIR``, default ``.bench_build``);
2. makes a fresh temp dir there for Spark's local dirs, warehouse, JVM
   temp files and lakehouse tables, and deletes it at the end;
3. starts ``local[nproc]`` through the program's own session factory,
   attaches the catalog, warms up, then runs the seeded operation list
   with one closed-loop client (next op only after the last returned);
4. checks every answer against DuckDB outside the timed pass;
5. prints a run-record JSON line, then the result as the last line:
   ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
   reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

The amount of work is fixed by ``--seconds``: each workload runs the
number of whole blocks of operations that takes about that long on a
4-core host. ``pass_s`` is then the wall time of that fixed work.
Metric definitions: ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import proctree  # noqa: E402
from workloads.base import Context  # noqa: E402

WORKLOADS = ("serve_oltp", "pipeline_batch")
ATTACH_REPEATS = 3


def _percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank percentile, only when >= 10 samples lie beyond it."""
    n = len(values)
    if n == 0 or n * (1 - p) < 10:
        return None
    return sorted(values)[max(0, math.ceil(p * n) - 1)]


def _median(values):
    return statistics.median(values) if values else None


def _gmean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else None


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _spark_env(tmp: str, traced: bool) -> None:
    """Keep every file Spark and its workers write inside ``tmp``."""
    for d in ("tmp", "local", "warehouse", "jvm"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # the traced run reads every job/stage/SQL execution of the
        # pass back from the status store; keep them all
        confs.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir
    java_opts = (f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} "
                 f"-Dderby.system.home={os.path.join(tmp, 'jvm')} -XX:-UsePerfData")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options '{java_opts}' pyspark-shell"
    )


def _stop_spark() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _load_workload(name: str):
    import importlib

    return importlib.import_module(f"workloads.{name}")


def measure(args, fixture_dir: str, tmp: str) -> tuple[dict, dict, list]:
    """Set up, run the pass, check. Returns (metrics, record, ops)."""
    t_session = time.perf_counter()
    from algebraicdb_spark.session import get_spark

    import pyspark

    nproc = os.cpu_count() or 1
    spark = get_spark("perfbench", cpus=str(nproc), shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_session

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    ctx = Context(spark, fixture_dir, args.scale, tmp, args.seed, args.seconds, tracer)
    wl = _load_workload(args.workload).Workload(ctx)

    # catalog attach, repeated on fresh sessions (the last one is kept)
    attach = []
    for i in range(ATTACH_REPEATS):
        s = spark if i == ATTACH_REPEATS - 1 else spark.newSession()
        t0 = time.perf_counter()
        wl.attach(s)
        attach.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(attach) + warmup_s

    ops = wl.plan()
    if tracer is not None:
        wl.install_trace(tracer)
        tracer.count_py4j()
        from tracing import reset_jvm_peaks

        with tracer.quiet():
            reset_jvm_peaks(spark)
    load_start = os.getloadavg()
    steal0 = proctree.host_cpu_ticks()
    cpu0 = proctree.cpu_s()
    t_pass = time.perf_counter()
    for i, op in enumerate(ops):
        wl.prepare(op)
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.operation(i, op.kind):
                    op.result = wl.run(op)
            else:
                op.result = wl.run(op)
        except Exception as exc:  # a failed op counts; the pass goes on
            op.error = f"{type(exc).__name__}: {exc}"[:500]
        op.latency_s = time.perf_counter() - t0
        if tracer is not None and op.error is None:
            op.args["catalyst_ms"] = tracer.catalyst_ms()
        wl.finish(op)
    pass_s = time.perf_counter() - t_pass
    cpu_s = proctree.cpu_s() - cpu0
    load_end = os.getloadavg()
    steal1 = proctree.host_cpu_ticks()
    steal_frac = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    if tracer is not None:
        tracer.uninstall()
        tracer.group = "perfbench-check"  # keep check jobs out of op groups
        tracer.set_job_group()
    t_check = time.perf_counter()
    failures = wl.check(ops)
    check_s = time.perf_counter() - t_check
    for i, why in failures.items():
        if ops[i].error is None:
            ops[i].error = f"wrong answer: {why}"
    layer = {}
    if tracer is not None:
        layer = wl.layer_metrics(ops, tracer, pass_s)
        layer.update({f"setup.{k}": v for k, v in (
            ("session_s", session_s), ("attach_s", statistics.median(attach)),
            ("warmup_s", warmup_s))})
    peak_rss_mb = proctree.peak_rss_mb()

    lat = [op.latency_s * 1e3 for op in ops]
    by_kind: dict[str, list[float]] = {}
    by_cls: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.latency_s * 1e3)
        by_cls.setdefault(op.cls, []).append(op.latency_s * 1e3)
    kind_medians = {k: _median(v) for k, v in by_kind.items()}
    failed = sum(op.error is not None for op in ops)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_ms.gmean": (_gmean(list(kind_medians.values())), "ms"),
        "cpu_s": (cpu_s, "s"),
    }
    # per-class latencies, each with its sample count; a
    # percentile is null unless >= 10 samples lie beyond it
    by_class = {}
    for cls in ("read", "write", "iterate"):
        v = by_cls.get(cls, [])
        by_class[f"{cls}_ms.p50"] = {"value": _median(v) if len(v) >= 20 else None, "n": len(v)}
        by_class[f"{cls}_ms.p90"] = {"value": _percentile(v, 0.9), "n": len(v)}
    keys = by_cls.get("key", [])
    if keys:
        by_class["key_s.gmean"] = {
            "value": _gmean([kind_medians[k] / 1e3 for k in by_kind]), "n": len(keys)}
    by_class["failed_frac"] = {"value": failed / len(ops), "n": len(ops)}
    by_class.update(wl.extra_record())

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "loadavg_start": list(load_start),
        "loadavg_end": list(load_end),
        "cpu_steal_frac": steal_frac,
        "check_s": check_s,
        "pyspark": pyspark.__version__,
        "git_commit": _git_commit(),
        "fixture": fixture.VERSION,
        "setup": {"session_s": session_s, "attach_s": attach, "warmup_s": warmup_s},
        "ops": len(ops),
        "failed": failed,
        "errors": sorted({op.error for op in ops if op.error})[:10],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        # not gated: its spread reached 27% between runs (JVM heap growth)
        "peak_rss_mb": peak_rss_mb,
        "op_ms.p50": _median(lat) if len(lat) >= 20 else None,
        "op_ms.p90": _percentile(lat, 0.9),
        "samples": {"op_ms": len(lat), "kinds": {k: len(v) for k, v in by_kind.items()}},
        "kind_median_ms": kind_medians,
        "by_class": by_class,
    }
    if tracer is not None:
        record["per_layer"] = layer
    wl.close()
    if tracer is not None:
        from tracing import write_spans

        out = os.path.join(os.path.dirname(tmp), "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl")
        write_spans(path, tracer.spans)
        record["spans_file"] = os.path.relpath(path, ROOT)
    return (layer if args.trace else end_to_end), record, ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="fixture scale factor (0.1 = sf0.1 row counts)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "algebraicdb_spark", "engine.py")):
        print(f"perfbench: no algebraicdb_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build = os.path.join(ROOT, build, "perfbench")
    os.makedirs(build, exist_ok=True)
    fixture_dir = fixture.build(build, args.scale)
    tmp = tempfile.mkdtemp(prefix="run-", dir=build)
    _spark_env(tmp, bool(args.trace))
    try:
        metrics, record, ops = measure(args, fixture_dir, tmp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_spark()
        finally:
            proctree.stop_children()
            shutil.rmtree(tmp, ignore_errors=True)
    failed = record["failed"]
    if args.trace:
        # every per-layer metric, 0 where the workload has no such layer
        out_metrics = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in _spec()["per_layer"]}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": out_metrics}))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
