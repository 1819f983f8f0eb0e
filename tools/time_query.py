"""Time individual registered queries in isolation (noop sink).

Usage:
    python tools/time_query.py key [key ...] [--runs N] [--scale N]

Methodology matches bench.py (guide §1.4): one untimed warmup
(plan/codegen/read warm), then N timed noop-sink materializations;
prints per-run seconds plus min/median. Every run is split into its
two layers: the driver build (seconds, and the Spark jobs it ran —
counted through the run's job group and ``statusTracker``) and the
noop-sink execution (seconds). Jobs are labelled with their group for
UI attribution (guide §1.5).

``--scale N`` with N > 1 times the keys on the N×-replicated sf0.1
fixture (tools/stress_scale.py's key-shifted build) instead of
$SPARK_GRAFT_SF_DIR: the build is reused across invocations (delete
<tmpdir>/adb_stress_<N>x to rebuild), so runs at different core counts
see identical bytes.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed_run(spark, build, group: str) -> tuple[float, int, float]:
    """(build s, build jobs, exec s) of one build + noop-sink write.

    The build runs under job group ``<group>-build``: any job it starts
    (an eager action, or a checkpoint whose exchanges AQE runs at
    build time) is counted from ``statusTracker``; the write runs
    under ``<group>-exec``."""
    sc = spark.sparkContext
    sc.setJobGroup(f"{group}-build", f"{group}: build")
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    sc.setJobGroup(f"{group}-exec", f"{group}: noop write")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobDescription(None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(f"{group}-build"))
    return t1 - t0, jobs, t2 - t1


def main() -> None:
    argv = sys.argv[1:]
    args = []
    opts = {"--runs": 3, "--scale": 1}
    i = 0
    while i < len(argv):
        a = argv[i]
        name = a.split("=", 1)[0]
        if name in opts:
            if "=" in a:
                opts[name] = int(a.split("=", 1)[1])
            else:
                opts[name] = int(argv[i + 1])
                i += 1
        else:
            args.append(a)
        i += 1
    runs, scale = opts["--runs"], opts["--scale"]
    if scale > 1:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from algebraicdb_spark.plans import registry
    from algebraicdb_spark.session import get_spark
    from algebraicdb_spark.sources.catalog import load_tables

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("algebraicdb-time-query", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = SF_DIR
    if scale > 1:
        import tools.stress_scale as ss

        sf_dir = os.path.join(tempfile.gettempdir(), f"adb_stress_{scale}x")
        if not os.path.isdir(sf_dir):
            print(f"building {scale}x fixtures …", flush=True)
            sf_dir = ss.build(spark, scale)
    load_tables(spark, sf_dir)
    qs = registry.queries()

    print(f"scale={scale} cpus={cpus} load(start)={os.getloadavg()[0]:.2f}")
    for key in args:
        build = functools.partial(qs[key], spark, sf_dir)
        timed_run(spark, build, f"{key}-warmup")
        samples = []
        for i in range(runs):
            b_s, b_jobs, x_s = timed_run(spark, build, f"{key}-run{i}")
            samples.append(b_s + x_s)
            print(
                f"  {key} run {i}: build={b_s:.3f}s build_jobs={b_jobs} exec={x_s:.3f}s",
                flush=True,
            )
        fmt = " ".join(f"{s:.3f}" for s in samples)
        print(
            f"{key:32s} min={min(samples):.3f} med={statistics.median(samples):.3f} runs=[{fmt}]",
            flush=True,
        )
    print(f"load(end)={os.getloadavg()[0]:.2f}")


if __name__ == "__main__":
    main()
