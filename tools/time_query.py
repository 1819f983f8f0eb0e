"""Time individual registered queries in isolation (noop sink).

Usage:
    python tools/time_query.py key [key ...] [--runs N] [--scale N]

Methodology matches bench.py (guide §1.4): one untimed warmup
(plan/codegen/read warm), then N timed noop-sink materializations;
prints per-run seconds plus min/median. Jobs are labelled with
setJobDescription for UI attribution (guide §1.5).

``--scale N`` with N > 1 times the keys on the N×-replicated sf0.1
fixture (tools/stress_scale.py's key-shifted build) instead of
$SPARK_GRAFT_SF_DIR: the build is reused across invocations (delete
<tmpdir>/adb_stress_<N>x to rebuild), so runs at different core counts
see identical bytes.
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


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
        spark.sparkContext.setJobDescription(f"{key}: warmup")
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{key}: run {i}")
            t0 = time.time()
            qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        fmt = " ".join(f"{s:.3f}" for s in samples)
        print(
            f"{key:32s} min={min(samples):.3f} med={statistics.median(samples):.3f} runs=[{fmt}]",
            flush=True,
        )
    print(f"load(end)={os.getloadavg()[0]:.2f}")


if __name__ == "__main__":
    main()
