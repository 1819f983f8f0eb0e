"""Wall time and bytes written per lakehouse format × write mode × verb.

    python tools/probe_mutation_scale.py SF_DIR [SF_DIR ...] [--cdf] [--json OUT]

For each TPC-H fixture directory (for example the sf0.01 one) the
script builds one table per (format, mode) from ``orders``, appended in
4 commits so matches spread over several files, and runs the same verb
sequence on it through the public writer methods only:

- ``delete``: ``DELETE WHERE o_orderkey % 97 = 7``;
- ``update``: ``o_totalprice + 1`` where ``o_orderkey % 89 = 3``;
- ``merge``: a source that updates keys with ``o_orderkey % 83 = 5``
  and inserts as many new keys (WHEN MATCHED UPDATE + NOT MATCHED
  INSERT);
- ``merge_delete``: WHEN MATCHED THEN DELETE for ``o_orderkey % 79 = 1``;
- ``upsert`` (Iceberg only): ``upsert_by_key`` of the merge source.

Modes: Delta ``cow`` and ``mor`` (deletion vectors); Iceberg ``cow``,
``mor`` (position-delete files) and ``v3`` (format version 3, deletion
vectors). ``--cdf`` turns on Delta's change data feed, so the Delta
rows include the ``_change_data`` files each commit lands.

Each row prints wall seconds, the bytes of the files the commit added
outside the table's log/metadata directory, and the verb's result
dict. Every input is deterministic, so two trees that encode the same
plan print the same byte counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from algebraicdb_spark.operators.delta_writer import DeltaTableWriter  # noqa: E402
from algebraicdb_spark.operators.iceberg_writer import IcebergTableWriter  # noqa: E402
from algebraicdb_spark.sources.catalog import load_tables  # noqa: E402

MODES = [("delta", "cow"), ("delta", "mor"),
         ("iceberg", "cow"), ("iceberg", "mor"), ("iceberg", "v3")]
COLS = ["o_orderkey", "o_orderpriority", "o_totalprice"]


def data_files(root: str) -> dict[str, int]:
    """{path: bytes} of every file outside the log/metadata tree."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        if "_delta_log" in dirpath or dirpath.endswith("metadata"):
            continue
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[p] = os.path.getsize(p)
    return out


def build(spark, orders, fmt: str, mode: str, root: str, cdf: bool):
    if fmt == "delta":
        w = DeltaTableWriter(root)
    else:
        w = IcebergTableWriter(root)
    for i in range(4):
        w.append(orders.where(F.col("o_orderkey") % 4 == i).coalesce(1))
    if fmt == "delta" and mode == "mor":
        w.enable_deletion_vectors()
    if fmt == "delta" and cdf:
        w.set_properties({"delta.enableChangeDataFeed": "true"})
    if fmt == "iceberg" and mode == "mor":
        w.set_properties({f"write.{op}.mode": "merge-on-read"
                          for op in ("delete", "update", "merge")})
    if fmt == "iceberg" and mode == "v3":
        w.upgrade_format_version(3)
    return w


def verbs(spark, orders, fmt: str):
    """(name, callable(writer) -> result dict) in run order."""
    hit = orders.where(F.col("o_orderkey") % 83 == 5)
    src = hit.select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    ).unionByName(hit.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderpriority", "o_totalprice",
    )).coalesce(1)
    gone = orders.where(F.col("o_orderkey") % 79 == 1).select(
        "o_orderkey").coalesce(1)
    out = [
        ("delete", lambda w: w.delete(spark, "o_orderkey % 97 = 7")),
        ("update", lambda w: w.update(
            spark, {"o_totalprice": "o_totalprice + 1"},
            "o_orderkey % 89 = 3")),
        ("merge", lambda w: w.merge(
            spark, src, "t.o_orderkey = s.o_orderkey",
            {"o_totalprice": "s.o_totalprice"},
            [f"s.{c}" for c in COLS])),
        ("merge_delete", lambda w: w.merge(
            spark, gone, "t.o_orderkey = s.o_orderkey", None, None,
            delete_matched=True)),
    ]
    if fmt == "iceberg":
        out.append(("upsert", lambda w: w.upsert_by_key(
            spark, src.select(
                (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
                "o_orderpriority", "o_totalprice"),
            ["o_orderkey"])))
    return out


def run(spark, sf_dir: str, cdf: bool) -> list[dict]:
    orders = load_tables(spark, sf_dir)["orders"].select(*COLS)
    rows = []
    base = tempfile.mkdtemp(prefix="probe_mutation_")
    try:
        for fmt, mode in MODES:
            root = os.path.join(base, f"{fmt}_{mode}")
            w = build(spark, orders, fmt, mode, root, cdf)
            for verb, call in verbs(spark, orders, fmt):
                before = data_files(root)
                t0 = time.time()
                res = call(w)
                wall = time.time() - t0
                after = data_files(root)
                added = sum(b for p, b in after.items() if p not in before)
                row = {"sf_dir": sf_dir, "format": fmt, "mode": mode,
                       "verb": verb, "wall_s": round(wall, 3),
                       "bytes_written": added,
                       "result": {k: v for k, v in res.items()
                                  if k != "version"}}
                rows.append(row)
                print(json.dumps(row), flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dirs", nargs="+", help="TPC-H fixture directories")
    ap.add_argument("--cdf", action="store_true",
                    help="turn on Delta's change data feed")
    ap.add_argument("--json", help="write every row to this file")
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = [r for sf in args.sf_dirs for r in run(spark, sf, args.cdf)]
    if args.json:
        with open(args.json, "w") as f:
            json.dump(rows, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
