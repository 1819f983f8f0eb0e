"""Transactional tables: the Delta log reader and what builds on it.

``source_txnlog_snapshot`` (scans.py) proved the READ side of a
Delta/Iceberg-style table: the live file set is decided by replaying
an ordered commit log, never by listing a directory. This module holds
the standard-format half of that idea:

- ``DeltaLogTable`` — a read-only reader for standard Delta Lake
  tables (ours via ``DeltaTableWriter``, or another engine's):
  checkpoint-aware log replay, partition/stats skipping, column
  mapping, deletion vectors, time travel, the row-level
  ``changes_cdf`` feed and ``txn`` idempotence marks;
- the column-mapping, partition and scan-assembly helpers the Delta
  and Iceberg readers and writers share (``_cm_*``,
  ``_assemble_groups``, ``_zorder_clustered``, the pruning tests);
- ``IncrementalAggView`` — an O(delta) materialized aggregate whose
  state is itself a Delta table;
- the lakehouse registry keys (``sink_txnlog_append``,
  ``source_txnlog_time_travel``, ``dialect_changes_feed``,
  ``view_*``, ``sink_delta_*``, ``sink_iceberg_*``), every one of them
  committing through a standard format.

Every transactional write goes through one commit protocol, kept
here next to ``ConcurrentWriteError``: ``publish_exclusive`` links
the next version file into place create-exclusively and whole
(Delta's next ``_delta_log`` commit, Iceberg's next
``metadata.json``), so a racing writer loses
with ``ConcurrentWriteError``, and ``retry_commit`` reruns a lost
attempt on the new head, at most ``COMMIT_RETRIES`` times. The log is
METADATA — O(commits) KB-sized documents read driver-side; data files
never move on commit, and snapshot reads are ordinary pruned parquet
scans over the live path list.

Both writers also stage their data files through one step, ``stage``:
a private Spark write, one footer read per part file (rows and the
column stats both formats record), and a move into place for every
file that holds a row — no commit lands a zero-row file. On the read
side a snapshot with no live file is an empty frame under the table's
recorded schema, in both formats.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import uuid
from typing import Callable, NamedTuple, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from algebraicdb_spark.functions.rounding import pround
from algebraicdb_spark.operators.scans import _scratch
from algebraicdb_spark.plans.registry import register
from algebraicdb_spark.sources.catalog import load_tables

# a checkpoint file: classic `<v>.checkpoint.parquet`, multipart
# `<v>.checkpoint.<i>.<n>.parquet`, or V2 `<v>.checkpoint.<uuid>.<ext>`
_CHECKPOINT_NAME_RE = re.compile(
    r"(?P<v>\d{20})\.checkpoint\.(?:(?P<i>\d{10})\.(?P<n>\d{10})\.parquet"
    r"|parquet|[^.]+\.(?:parquet|json))"
)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class _LostPublishRace(ConcurrentWriteError):
    """``publish_exclusive`` found its target already written: the
    attempt built its commit on a stale head, so ``retry_commit`` runs
    it again. Every other ``ConcurrentWriteError`` — a conflict no
    rebase can fix — ends the commit."""


COMMIT_RETRIES = 8
_T = TypeVar("_T")


def publish_exclusive(target: str, text: str) -> None:
    """Create-exclusive publish of one commit file: two racers
    targeting the same file get exactly one winner, and the loser
    raises ``ConcurrentWriteError``. The text is written to a private
    temporary file first and hard-linked into place, so the target
    appears whole or not at all — a write that fails leaves no torn
    commit in the version slot. Once the link lands nothing raises.
    The one atomicity primitive under both writers (on S3-class
    stores real deployments route it through a commit service or a
    conditional put)."""
    tmp = os.path.join(
        os.path.dirname(target),
        f".{os.path.basename(target)}.{uuid.uuid4().hex}.tmp",
    )
    try:
        with open(tmp, "x") as f:
            f.write(text)
        os.link(tmp, target)  # create-exclusive, like open(…, "x")
    except FileExistsError as exc:
        raise _LostPublishRace(
            f"{os.path.basename(target)} already committed by another "
            "writer — rebase on the new head and retry"
        ) from exc
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmp)


def retry_commit(op: str, attempt: Callable[[], _T]) -> _T:
    """Run ``attempt()`` until its publish wins and return its result.
    Each attempt re-reads the head, re-validates, builds its commit and
    publishes it through ``publish_exclusive``; a lost race runs it
    again on the new head, at most ``COMMIT_RETRIES`` times in all."""
    for _ in range(COMMIT_RETRIES):
        try:
            return attempt()
        except _LostPublishRace:
            continue
    raise ConcurrentWriteError(
        f"{op} lost {COMMIT_RETRIES} publish races — table is under "
        "pathological write contention"
    )


def footer_rows(path: str) -> int:
    """A parquet file's row count, from its footer."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def footer_stats(path: str) -> tuple[int, dict[str, tuple]]:
    """(rows, {leaf column: (min, max, null count)}) from one parquet
    footer, folded across row groups — O(KB), no data read. A column
    with any row group lacking min/max gets None for both (an absent
    bound means "cannot prune", never "prune wrongly"); the null count
    is None unless every row group records one."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    per: dict[str, list] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            col = rg.column(i)
            per.setdefault(col.path_in_schema, []).append(col.statistics)
    stats = {}
    for name, sts in per.items():
        bounded = all(s is not None and s.has_min_max for s in sts)
        counted = all(s is not None and s.null_count is not None
                      for s in sts)
        stats[name] = (
            min(s.min for s in sts) if bounded else None,
            max(s.max for s in sts) if bounded else None,
            sum(s.null_count for s in sts) if counted else None,
        )
    return md.num_rows, stats


class Staged(NamedTuple):
    """One data file ``stage`` placed: its path, hive partition values
    ({column: string-or-None}, empty when unpartitioned) and what its
    footer says (``footer_stats``)."""

    path: str
    pv: dict
    rows: int
    size: int
    stats: dict[str, tuple]


def stage(df: DataFrame, partition_by: list[str], root: str,
          place: Callable[[str], str]) -> list[Staged]:
    """The one staging step under both lakehouse writers: write ``df``
    as parquet (hive directories per ``partition_by`` column) into a
    private directory under ``root``, read each part file's footer
    once, and move every part file that holds a row to ``place(its
    hive-relative path)``. A zero-row part file goes away with the
    private directory, so no commit ever lands one — a batch with no
    rows stages nothing. Staged files stay invisible until a commit
    references them; on any failure nothing is left behind."""
    tmp = os.path.join(root, f"_staging_{uuid.uuid4().hex}")
    out: list[Staged] = []
    try:
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        for dirpath, _dirs, files in os.walk(tmp):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fn)
                rows, stats = footer_stats(src)
                if not rows:
                    continue
                rel = os.path.relpath(src, tmp)
                rel_dir = os.path.dirname(rel)
                dest = place(rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(src, dest)
                out.append(Staged(
                    dest,
                    _hive_partition_values(rel_dir) if rel_dir else {},
                    rows, os.path.getsize(dest), stats,
                ))
    except BaseException:
        for s in out:
            with contextlib.suppress(OSError):
                os.unlink(s.path)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


class SchemaEvolutionError(RuntimeError):
    """The batch's schema drifted from the table's and the write did
    not opt into (or the drift is not an) additive evolution."""


def _schema_fields(schema_json: str) -> dict[str, str]:
    """field name -> JSON-serialized type, from a StructType.json().
    Nested field METADATA is stripped before serializing: every use is
    structural comparison (does the batch's shape match the pinned
    schema?), and a column-mapped table's nested columnMapping
    annotations — absent from any incoming batch — must not read as a
    type change (round 14, nested mapped appends)."""
    import json as _json

    def strip(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {"type": "struct", "fields": [
                    {"name": f["name"], "type": strip(f["type"]),
                     "nullable": f.get("nullable", True)}
                    for f in t.get("fields", [])
                ]}
            return {k: strip(v) for k, v in t.items() if k != "metadata"}
        return t

    doc = _json.loads(schema_json)
    return {f["name"]: _json.dumps(strip(f["type"])) for f in doc["fields"]}


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def parse_schema_string(doc: str | None, path: str):
    """Delta ``metaData.schemaString`` → Spark StructType, shared by
    every consumer (reader ``table_schema``, writer maintenance): None
    when absent or empty ("{}" minimal fixtures — schema simply not
    recorded); a PRESENT but malformed string raises a contextual
    error naming the table instead of a raw parse crash — silently
    falling back to footer sampling would read an evolved table
    nondeterministically."""
    from pyspark.sql.types import StructType

    if not doc:
        return None
    try:
        parsed = json.loads(doc)
        if not parsed or not parsed.get("fields"):
            return None
        return StructType.fromJson(parsed)
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"{path}: metaData.schemaString is present but not a Spark "
            f"StructType JSON: {exc}"
        ) from exc


def _hive_partition_values(rel_dir: str) -> dict:
    """Decode a hive-layout relative directory (``col=val[/col2=val2]``,
    values percent-escaped by the Spark writer, nulls as the hive
    default marker) into a {column: string-or-None} dict."""
    from urllib.parse import unquote

    pv: dict = {}
    for comp in rel_dir.split(os.sep):
        k, _, v = comp.partition("=")
        pv[k] = None if v == _HIVE_NULL else unquote(v)
    return pv


_OPT_ZBITS = 8  # 256 buckets per clustering dimension


def _zorder_clustered(df: DataFrame, cols: list[str], target_files: int) -> DataFrame:
    """Cluster ``df`` by the Morton (Z-order) key over ``cols`` for a
    compaction rewrite: bucket each column to ``_OPT_ZBITS`` bits
    against its observed min/max, interleave bit i of dimension k to
    position i·n+k (the n-column generalization of
    ``storage_zorder_advisor``'s 2-column key, scans.py), then
    ``repartitionByRange`` + sort-within on the key so every output
    file covers a NARROW span of EVERY clustering column — which is
    what makes parquet min/max file/row-group skipping fire for point
    filters on any of them. Cost over plain compaction: one extent
    agg (1 driver row) + one range shuffle of the live bytes — the
    unavoidable price of clustering, same as Delta's OPTIMIZE ZORDER.

    Pure integer bit arithmetic JVM-side; no UDF. Nulls bucket to 0
    (they cluster together at the low edge, like Delta)."""
    n = len(cols)
    # the interleaved key must fit a SIGNED bigint: the top bit index is
    # (_OPT_ZBITS-1)*n + (n-1) = 8n-1, so n=8 lands on bit 63 (the sign
    # bit — range partitioning would invert the top bucket) and n>8
    # wraps entirely. Refuse loudly instead of misclustering silently.
    if n * _OPT_ZBITS - 1 >= 63:
        raise ValueError(
            f"ZORDER BY supports at most {63 // _OPT_ZBITS} columns "
            f"(got {n}): the {_OPT_ZBITS}-bit interleaved key would "
            "overflow bigint's sign bit and senselessly serialize the "
            "range clustering; drop the lowest-value columns"
        )
    row = df.agg(
        *[
            f
            for c in cols
            for f in (
                F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
            )
        ]
    ).collect()[0]
    out = df
    znames = []
    for k, c in enumerate(cols):
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        width = (mx - mn) + 1.0 if mn is not None else 1.0
        b = F.floor(
            (F.col(c).cast("double") - F.lit(mn if mn is not None else 0.0))
            * (1 << _OPT_ZBITS)
            / F.lit(width)
        ).cast("bigint")
        # nulls to the bottom bucket FIRST (F.least skips nulls, so
        # clamping before the default would send nulls to the TOP),
        # then clamp the max value into the top bucket
        b = F.least(F.coalesce(b, F.lit(0)), F.lit((1 << _OPT_ZBITS) - 1))
        name = f"__zb{k}"
        out = out.withColumn(name, b)
        znames.append(name)
    interleave = " + ".join(
        f"(((__zb{k} >> {i}) & 1) << {i * n + k})"
        for i in range(_OPT_ZBITS)
        for k in range(n)
    )
    return (
        out.withColumn("__zkey", F.expr(interleave))
        .repartitionByRange(max(target_files, 1), "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *znames)
    )


class _NameMapping(dict):
    """'name'-mode column mapping: the dict part is the TOP-LEVEL
    logical → physical rename (what partition handling and staging
    keys by); ``st`` is the full pinned logical schema, whose NESTED
    field metadata carries the subfield physicalNames the recursive
    helpers below rewrite through (round 14 — nested + partitioned
    mapped tables)."""

    def __init__(self, rename: dict[str, str], st=None):
        super().__init__(rename)
        self.st = st


def _cm_mapping(st) -> "_NameMapping | None":
    """logical column name → physical parquet column name, from the
    ``delta.columnMapping.physicalName`` field metadata a column-mapped
    table's schemaString carries (Delta column mapping, 'name' mode).
    None when no field is mapped — the pinned schema itself is the
    authoritative signal, so every scan path picks the mapping up at
    the version it pinned."""
    if st is None:
        return None
    mapping = {
        f.name: f.metadata["delta.columnMapping.physicalName"]
        for f in st.fields
        if f.metadata and "delta.columnMapping.physicalName" in f.metadata
    }
    return _NameMapping(mapping, st) if mapping else None


def _cm_walk_struct_fields(dt, fn):
    """Rebuild ``dt`` with every StructField (at any nesting depth,
    including inside arrays and maps) passed through ``fn(field,
    new_dataType) -> StructField``. The shared skeleton of the
    physical-twin / cleaned-twin / id-read-twin builders — Delta
    schemaStrings carry per-subfield columnMapping metadata at every
    level, and faithful mapped reads must rewrite ALL of them."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, StructType):
        return StructType([
            fn(f, _cm_walk_struct_fields(f.dataType, fn)) for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(
            _cm_walk_struct_fields(dt.elementType, fn), dt.containsNull
        )
    if isinstance(dt, MapType):
        return MapType(
            _cm_walk_struct_fields(dt.keyType, fn),
            _cm_walk_struct_fields(dt.valueType, fn),
            dt.valueContainsNull,
        )
    return dt


def _cm_phys_type(dt):
    """The PHYSICAL twin of a logical data type: every struct field at
    every depth renamed to its ``delta.columnMapping.physicalName``
    (identity when absent), metadata dropped — what the parquet files
    of a 'name'-mode table actually contain. Totality is the gate's
    job (``_check_name_mapping``), not this builder's."""
    from pyspark.sql.types import StructField

    def fn(f, new_dt):
        return StructField(
            (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            ),
            new_dt, f.nullable,
        )

    return _cm_walk_struct_fields(dt, fn)


def _cm_clean_type(dt):
    """The logical data type with ``delta.columnMapping.*`` and
    ``parquet.field.id`` metadata stripped at EVERY depth (other
    nested metadata survives). Scans cast their renamed columns to
    this twin — cast KEEPS the target type's nested metadata, so
    casting to the raw logical type would bake physicalName/field-id
    hints into downstream schemas (and poison a snapshot appended into
    a new table, exactly like the flat case the round-11 comment
    documents)."""
    from pyspark.sql.types import StructField

    def fn(f, new_dt):
        clean = {
            k: v for k, v in (f.metadata or {}).items()
            if not k.startswith("delta.columnMapping.")
            and k != "parquet.field.id"
        }
        return StructField(f.name, new_dt, f.nullable, clean)

    return _cm_walk_struct_fields(dt, fn)


def _cm_id_read_type(dt):
    """The id-mode READ twin: logical names at every depth, each field
    carrying ``parquet.field.id`` from its ``delta.columnMapping.id``
    metadata — Spark's vectorized reader then matches parquet columns
    (including NESTED ones) by footer field id, never by name."""
    from pyspark.sql.types import StructField

    def fn(f, new_dt):
        md = {}
        if f.metadata and "delta.columnMapping.id" in f.metadata:
            md["parquet.field.id"] = int(f.metadata["delta.columnMapping.id"])
        return StructField(f.name, new_dt, f.nullable, md)

    return _cm_walk_struct_fields(dt, fn)


def _cm_id_write_type(dt):
    """The id-mode WRITE twin: PHYSICAL names at every depth, each
    field carrying ``parquet.field.id`` — the schema staged parquet is
    written under (``DataFrame.to`` attaches the nested metadata), so
    the footers are matchable by the ids the mode says readers resolve
    by."""
    from pyspark.sql.types import StructField

    def fn(f, new_dt):
        md = {}
        if f.metadata and "delta.columnMapping.id" in f.metadata:
            md["parquet.field.id"] = int(f.metadata["delta.columnMapping.id"])
        return StructField(
            (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            ),
            new_dt, f.nullable, md,
        )

    return _cm_walk_struct_fields(dt, fn)


class _IdMapping(dict):
    """'id'-mode column mapping (round 13). The dict part is the
    logical → physicalName rename WRITE paths stage under (identity
    when a field carries no physicalName — reads never need it);
    ``ids`` is logical name → delta.columnMapping.id, the FIELD ID the
    parquet footers are matched by. Scans that receive one of these
    read by field id (Spark's ``parquet.field.id`` schema metadata +
    ``spark.sql.parquet.fieldId.read.enabled``), never by name — the
    protocol's 'id' semantics, where a rename rewrites no file."""

    def __init__(self, rename: dict[str, str], ids: dict[str, int], st=None):
        super().__init__(rename)
        self.ids = ids
        self.st = st


def _cm_id_mapping(st) -> _IdMapping | None:
    """The ``_IdMapping`` for an 'id'-mode schemaString, or None when
    no field carries ``delta.columnMapping.id`` (callers gate totality
    via ``_check_id_mapping`` — a PARTIAL id map must have refused
    before any scan)."""
    if st is None:
        return None
    ids = {
        f.name: int(f.metadata["delta.columnMapping.id"])
        for f in st.fields
        if f.metadata and "delta.columnMapping.id" in f.metadata
    }
    if not ids:
        return None
    rename = {
        f.name: (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )
        for f in st.fields
    }
    return _IdMapping(rename, ids, st)


def _mapped_scan(
    spark: SparkSession,
    paths: list[str],
    fields: list,
    mapping: dict[str, str],
    with_metadata: bool,
) -> DataFrame:
    """Scan ``paths`` (column-mapped parquet) and surface ``fields``
    under their LOGICAL names with cleaned metadata — the shared core
    of the flat and partitioned mapped branches of
    ``_assemble_groups``, nested-struct-aware (round 14).

    'id' mode (``_IdMapping``): the read schema carries
    ``parquet.field.id`` at EVERY depth (``_cm_id_read_type``) and a
    cloned session enables fieldId matching — Spark's vectorized
    reader resolves parquet columns, including nested ones, by footer
    field id, never by name. 'name' mode: the read schema is the
    recursive PHYSICAL twin (``_cm_phys_type``); top-level columns
    rename back via alias, and any field whose type contains a struct
    casts to the cleaned logical twin — a positional rename (Delta
    field order is authoritative on both sides) that also strips the
    ``delta.columnMapping.*`` / ``parquet.field.id`` hints cast would
    otherwise bake into downstream schemas."""
    from pyspark.sql.types import StructField, StructType

    def needs_cast(dt) -> bool:
        return _cm_clean_type(dt) != dt or _cm_phys_type(dt) != dt

    def meta(df: DataFrame) -> DataFrame:
        if not with_metadata:
            return df
        return df.select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    if isinstance(mapping, _IdMapping):
        # one cheap footer probe refuses loudly when the files carry
        # no ids at all — matching by name would be exactly the
        # silent misread 'id' mode exists to prevent
        import pyarrow.parquet as pq

        probe = pq.ParquetFile(paths[0]).schema_arrow
        if not any(
            (f.metadata or {}).get(b"PARQUET:field_id") for f in probe
        ):
            raise NotImplementedError(
                f"{paths[0]}: delta.columnMapping.mode='id' but "
                "the parquet files carry no field ids — id-mode "
                "matching is impossible; use a full Delta client"
            )
        # scope the fieldId conf to a CLONED session (shared
        # SparkContext, private SQLConf): the conf is consumed at
        # scan execution via the relation's creating session, so a
        # set-and-restore on the shared session would either leak
        # (restore never) or break the lazy scan (restore now) —
        # the clone does neither, and the caller's session keeps
        # its own parquet matching semantics
        scoped = spark.newSession()
        scoped.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        # fields OUTSIDE the id map (e.g. a cdc file's _change_type)
        # carry no id and match by name, Spark's own fallback
        read_st = _cm_id_read_type(StructType(fields))
        df = meta(scoped.read.schema(read_st).parquet(*paths))
        src_name = {f.name: f.name for f in fields}
    else:
        # 'name' mode: the parquet files carry PHYSICAL names at
        # every depth — read under the physical twin (reading under
        # the logical schema would surface all-NULL columns, the
        # exact silent corruption _check_readable guards)
        phys_st = _cm_phys_type(StructType(fields))
        df = meta(spark.read.schema(phys_st).parquet(*paths))
        src_name = {
            f.name: p.name
            for f, p in zip(fields, phys_st.fields)
        }
    sel = []
    for f in fields:
        clean = {
            k: v for k, v in (f.metadata or {}).items()
            if not k.startswith("delta.columnMapping.")
            and k != "parquet.field.id"
        }
        col = df[src_name[f.name]]
        if needs_cast(f.dataType):
            col = col.cast(_cm_clean_type(f.dataType))
        sel.append(col.alias(f.name, metadata=clean))
    if with_metadata:
        sel += [df["__fp"], df["__pos"]]
    return df.select(*sel)


def _assemble_groups(
    spark: SparkSession,
    adds: list[tuple[str, dict]],
    st,
    part_cols: list[str],
    with_metadata: bool = False,
    mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Build a scan DataFrame from (path, partitionValues) pairs — the
    core of ``DeltaLogTable``'s partitioned reads. Unpartitioned: one
    pinned multi-path parquet read. Partitioned: the partition
    columns' values exist ONLY in the log (Delta never writes them
    into the parquet files), so files
    group by their partition tuple, each group reads under the DATA
    schema (table schema minus partition columns) and gets its values
    attached as typed literals, then the groups union.

    Scale shape: one union branch per DISTINCT LIVE PARTITION TUPLE —
    metadata-bounded (the same cardinality every lakehouse client
    materializes in its file index); a production reader folds the
    values into the datasource's partition spec instead of a union,
    but the scan work is identical — each branch is a pruned parquet
    read of exactly that partition's files.

    ``with_metadata`` attaches Spark's ``_metadata`` file-path /
    row-index hidden columns AT THE SCAN (as ``__fp`` / ``__pos``),
    before any union — metadata columns don't survive a union, and the
    merge-on-read consumers (deletion vectors) need per-row file
    identity."""
    from functools import reduce as _reduce

    from pyspark.sql.types import StructField, StructType

    if not adds:
        raise ValueError(
            "empty add set — callers decide what zero live files means "
            "(empty table vs fully-pruned scan) before assembling"
        )

    def meta(df: DataFrame) -> DataFrame:
        if not with_metadata:
            return df
        return df.select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    if not part_cols:
        paths = [p for p, _pv in adds]
        if st is not None and mapping:
            return _mapped_scan(
                spark, paths, list(st.fields), mapping, with_metadata
            )
        if st is not None:
            return meta(spark.read.schema(st).parquet(*paths))
        return meta(spark.read.parquet(*paths))
    # Partitioned. Under column mapping (round 14): the log's
    # metaData.partitionColumns carry LOGICAL names while each add's
    # partitionValues are keyed by PHYSICAL name (Delta's convention —
    # partition values ride the file actions, which live in physical
    # space). Be liberal on BOTH: a partition column that isn't a
    # logical schema field resolves through the inverse rename, and a
    # value lookup falls back to the logical key — foreign writers
    # disagree on this corner, and either way round-trips here.
    inv = {v: k for k, v in (mapping or {}).items()}
    st_names = {f.name for f in st.fields} if st else set()
    part_l = [
        c if (not mapping or c in st_names) else inv.get(c, c)
        for c in part_cols
    ]
    part_p = [(mapping or {}).get(c, c) for c in part_l]
    types = {f.name: f.dataType for f in st.fields} if st else {}
    data_fields = (
        [f for f in st.fields if f.name not in part_l] if st else None
    )
    order = [f.name for f in st.fields] if st else None
    if order is not None and with_metadata:
        order = order + ["__fp", "__pos"]
    groups: dict[tuple, list[str]] = {}
    for p, pv in adds:
        pv = pv or {}
        key = tuple(
            pv.get(cp, pv.get(cl))
            for cp, cl in zip(part_p, part_l)
        )
        groups.setdefault(key, []).append(p)
    parts = []
    for key in sorted(
        groups, key=lambda k: tuple("" if v is None else str(v) for v in k)
    ):
        if st is not None and mapping:
            df = _mapped_scan(
                spark, groups[key], data_fields, mapping, with_metadata
            )
        elif data_fields is not None:
            df = meta(
                spark.read.schema(StructType(data_fields))
                .parquet(*groups[key])
            )
        else:
            df = meta(spark.read.parquet(*groups[key]))
        for c, v in zip(part_l, key):
            lit = F.lit(v)  # values are string-serialized in the log
            # (null = missing); cast restores the declared column type
            lit = lit.cast(types[c]) if c in types else lit.cast("string")
            df = df.withColumn(c, lit)
        parts.append(df.select(*order) if order else df)
    return _reduce(lambda a, b: a.unionByName(b), parts)


def _pv_prunes(pv: dict | None, col: str, lo_v, hi_v) -> bool:
    """True iff a directory's logged partition VALUE proves the range
    [lo_v, hi_v] cannot match — the coarser, cheaper pruning tier
    above per-column stats. Values are string-serialized; compare
    after casting to the bound's type when numeric (a failed cast
    keeps the directory: an unparseable value means "cannot prune",
    never "prune wrongly"). Unlike absent stats, the partition value
    is AUTHORITATIVE — a null value means every row's column IS NULL,
    and NULL never lies in a range, so the null partition prunes."""
    if not pv or col not in pv:
        return False
    if pv[col] is None:
        return True  # all-NULL partition: no range can match it
    v: object = pv[col]
    if isinstance(lo_v, bool) or isinstance(hi_v, bool):
        return False
    if isinstance(lo_v, (int, float)) and isinstance(hi_v, (int, float)):
        # parse as int FIRST: Python compares int/float across types
        # EXACTLY, while float(v) rounds past 2^53 and could wrongly
        # prune a bigint partition whose value matches the bound
        try:
            v = int(v)
        except (TypeError, ValueError):
            try:
                v = float(v)
            except (TypeError, ValueError):
                return False
    try:
        return v > hi_v or v < lo_v
    except TypeError:
        # iceberg partition values arrive NATIVE-typed (not Delta's
        # strings); a bound of a different type cannot be compared —
        # and "cannot compare" must keep the file, never crash the scan
        return False


def _bounds_prune(b: list, lo_v, hi_v) -> bool:
    """True iff recorded [min, max] proves [lo_v, hi_v] cannot match.
    A type-incomparable pair (string stats against a numeric range, a
    foreign writer's exotic serialization) keeps the file: "cannot
    compare" is "cannot prune", never a crashed scan."""
    try:
        return b[0] > hi_v or b[1] < lo_v
    except TypeError:
        return False


class IncrementalAggView:
    """Incrementally-maintained materialized aggregate over a Delta
    (``DeltaLogTable``) or Iceberg (``IcebergViewBase``) base — the
    O(delta) REFRESH that full-recompute
    matviews (`Engine`'s REFRESH MATERIALIZED VIEW) lack, and the
    batch-orchestration twin of the streaming aggregation tier.

    The view is ``base.groupBy(group_cols)`` with count / exact
    decimal sums / min / max (the associative, appends-only-
    maintainable aggregates; avg = sum/count downstream). Each
    ``refresh``:

    - folds ONLY the base versions past the last watermark, through
      the base's one row-level feed (``changes_cdf``) as signed
      partials — inserts/postimages accumulate (+1), deletes/
      preimages retract (-1), still O(delta): count and exact-decimal
      sums subtract cleanly, and a group retracted to zero rows drops
      from the state exactly as a rebuild would drop it; compaction
      commits (data_change: False, iceberg ``replace``) are absent
      from the feed, so OPTIMIZE never triggers view work;
    - merges delta partials into the state (union + re-aggregate:
      O(delta + groups), never O(base));
    - commits the new state AND the watermark ATOMICALLY via
      ``overwrite_txn`` (the watermark IS the commit's txn marker) —
      a crash between "state written" and "watermark advanced" is
      impossible by construction, and a replayed refresh no-ops on
      the marker;
    - an all-metadata window advances the watermark with a
      marker-only commit (no state rewrite at all).

    MIN/MAX are NOT retractable (the deleted row may have been the
    extremum and the replacement is unknowable without a rescan), so
    a view configured with min/max columns folds only windows the
    base's probe (``_window_has_dc_removes``) calls retraction-free,
    refuses any other window loudly, and ``rebuild`` recomputes from
    the snapshot under the same atomic-watermark contract. Sums are
    DECIMAL(38,6) — order-free exact arithmetic, so the incremental
    state is bit-equal to a from-scratch recompute, not approximately
    equal. Consume within the base's VACUUM retention (a vacuumed
    window fails loudly on the parquet read), exactly Delta CDF's
    contract.

    State lives in its own standard Delta table
    (``DeltaTableWriter``), so the view itself is versioned,
    time-travelable, and readable by any Delta engine for free.
    """

    WATERMARK_APP = "__view_base_version"

    def __init__(
        self,
        base,
        state_path: str,
        group_cols: list[str],
        sum_cols: list[str] | tuple = (),
        min_cols: list[str] | tuple = (),
        max_cols: list[str] | tuple = (),
    ):
        from algebraicdb_spark.operators.delta_writer import (
            DeltaTableWriter,
        )

        self.base = base
        self.state = DeltaTableWriter(state_path)
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.min_cols = list(min_cols)
        self.max_cols = list(max_cols)

    def _needed_cols(self) -> list[str]:
        seen: list[str] = []
        for c in self.group_cols + self.sum_cols + self.min_cols + self.max_cols:
            if c not in seen:
                seen.append(c)
        return seen

    def _partial(self, df: DataFrame) -> DataFrame:
        """Per-group partials of ``df``: a snapshot (every row +1) or
        a row-level feed, where inserts/postimages weigh +1 and
        deletes/preimages -1 — counts and exact-decimal sums fold
        retractions with the same order-free arithmetic as appends
        (bit-equal to a rebuild). Min/max see only retraction-free
        input (``refresh`` gates that)."""
        sign = (
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
            if "_change_type" in df.columns else F.lit(1)
        )
        aggs = [F.sum(sign).cast("bigint").alias("n_rows")]
        for c in self.sum_cols:
            aggs.append(
                F.sum(sign * F.col(c).cast("decimal(27,6)"))
                .cast("decimal(38,6)")
                .alias(f"sum_{c}")
            )
        for c in self.min_cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
        for c in self.max_cols:
            aggs.append(F.max(c).alias(f"max_{c}"))
        return df.groupBy(*self.group_cols).agg(*aggs)

    def _merge(self, old: DataFrame, part: DataFrame) -> DataFrame:
        both = old.unionByName(part)
        aggs = [F.sum("n_rows").cast("bigint").alias("n_rows")]
        for c in self.sum_cols:
            aggs.append(
                F.sum(f"sum_{c}").cast("decimal(38,6)").alias(f"sum_{c}")
            )
        for c in self.min_cols:
            aggs.append(F.min(f"min_{c}").alias(f"min_{c}"))
        for c in self.max_cols:
            aggs.append(F.max(f"max_{c}").alias(f"max_{c}"))
        # a group retracted to zero rows must VANISH — exactly what a
        # from-scratch rebuild produces; append-only flows never hit
        # n_rows = 0, so the filter is a no-op there
        return both.groupBy(*self.group_cols).agg(*aggs).where(
            F.col("n_rows") != 0
        )

    def watermark(self) -> int:
        """Base version the state reflects (-1 before the first
        refresh) — read from the state table's txn marker."""
        return self.state.reader().last_txn_version(self.WATERMARK_APP)

    def refresh(self, spark: SparkSession) -> int | None:
        """Fold base commits past the watermark into the state —
        O(delta) signed partials over the row-level feed. Returns the
        new watermark, or None when already current. Windows that
        remove rows refuse on min/max views — those aggregates are
        not retractable; ``rebuild`` instead."""
        hw = self.watermark()
        target = self.base.latest_version()
        if target <= hw:
            return None
        if (self.min_cols or self.max_cols) and (
            self.base._window_has_dc_removes(hw, target)
        ):
            raise ValueError(
                f"base versions ({hw}, {target}] removed data and "
                "this view maintains min/max — the deleted row may "
                "have been the extremum, which no retraction can "
                "recover; rebuild() from the snapshot"
            )
        cdf = self.base.changes_cdf(spark, since=hw, to=target)
        if cdf is None:
            # nothing but metadata/compaction traffic: advance the
            # watermark alone — a marker-only commit, no state rewrite
            self.state.mark_txn(self.WATERMARK_APP, target)
            return target
        part = self._partial(cdf.select(*self._needed_cols(), "_change_type"))
        if self.state.live_paths():
            merged = self._merge(self.state.snapshot(spark), part)
        else:
            merged = part.where(F.col("n_rows") != 0)
        self.state.overwrite_txn(
            merged, self.WATERMARK_APP, target,
            self.state.latest_version() + 1,
        )
        return target

    def rebuild(self, spark: SparkSession) -> int:
        """Full recompute from the base snapshot — the recovery path
        after a data-changing base OVERWRITE (``refresh`` raises on
        those). Same atomic state+watermark commit."""
        target = self.base.latest_version()
        # pin the scan to `target`: an append racing between the two
        # calls would otherwise be IN the state but PAST the watermark,
        # and the next refresh would fold it again (double count)
        merged = self._partial(
            self.base.snapshot(spark, target).select(*self._needed_cols())
        )
        self.state.overwrite_txn(
            merged, self.WATERMARK_APP, target,
            self.state.latest_version() + 1,
        )
        return target

    def read(self, spark: SparkSession) -> DataFrame:
        """The current materialized state (refresh first; reading a
        never-refreshed view raises via the empty-snapshot path)."""
        return self.state.snapshot(spark)


class DeltaLogTable:
    """READ-ONLY reader for a standard Delta Lake table directory —
    the interop shim that lets this engine scan tables other systems
    maintain, without adopting a Delta library.

    Covers Delta's public JSON commit schema
    (https://github.com/delta-io/delta/blob/master/PROTOCOL.md):

    - ``<table>/_delta_log/<20-digit version>.json``, one commit per
      file, newline-delimited JSON with ONE action object per line;
    - action kinds ``add`` / ``remove`` (their ``path`` is relative to
      the table root and URL-encoded) fold into the live set;
      ``metaData`` / ``protocol`` / ``commitInfo`` / ``txn`` are
      metadata and don't affect it (commitInfo surfaces in
      ``history()``);
    - versions must be contiguous from 0 — a gap means a corrupted or
      vacuumed-past log and raises instead of silently dropping
      commits;
    - snapshot resolution is a log fold — replaying actions in
      version order (latest action per path wins,
      live iff add) beats any directory listing, which is the whole
      point of log-structured formats.

    Checkpoint replay IS in scope (every real Delta table checkpoints
    every ~10 commits and then CLEANS the old JSON, so a reader that
    can't start from a checkpoint can't read a table older than its
    retention window): ``_last_checkpoint`` names the version, the
    checkpoint is one parquet file (classic
    ``<v>.checkpoint.parquet``) or N multipart files
    (``<v>.checkpoint.<i-of-10>.<n-of-10>.parquet``), each row ONE
    action in struct columns — the live set at the checkpoint is
    exactly its non-null ``add`` rows (``remove`` rows there are
    retention tombstones, already folded out). Snapshot = checkpoint
    adds + the JSON tail fold for versions past it; time travel BELOW
    the checkpoint starts from the newest older checkpoint still on
    disk at or below the version, else replays the JSON prefix
    0..as_of, and raises when neither survives. Checkpoints are read
    driver-side via pyarrow with column pruning to ``add`` — the same
    O(metadata) shape as the JSON fold.

    Partitioned tables ARE in scope: metaData.partitionColumns names
    them and each add's ``partitionValues`` carries the (string-
    serialized) values — the parquet files themselves never contain
    the partition columns, so the reader synthesizes them as typed
    literals per partition group (``_assemble``); reading the files
    raw would silently return those columns as all-NULL.

    Out of scope, loudly (``_check_readable`` gates every scan on the
    folded ``protocol``/``metaData`` actions): v2/UUID-named
    checkpoints with sidecar files (NotImplementedError — their state
    lives in files ``_last_checkpoint`` doesn't name), deletion
    vectors (an ``add`` carrying one describes rows we would resurrect
    by scanning the file raw), column mapping (physical parquet names
    differ from the logical schema — a raw scan reads all-NULLs), and
    any readerFeature beyond the honored set. Production swaps this
    class for delta-rs / Delta Standalone behind the same
    three-method surface (latest_version / live_paths / snapshot);
    the scan itself is already just a pruned parquet read either way.

    Incremental consumers read ONE change feed, ``changes_cdf``: the
    window's row-level changes, where an adds-only commit is simply
    its rows labeled ``insert``.

    Scale shape: the log is O(commits) of
    KB-sized driver-side metadata plus O(live files) checkpoint rows
    (every Delta client reads both this way); data files are scanned
    distributed via one multi-path parquet read.
    """

    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        if not os.path.isdir(self.log_dir):
            raise ValueError(f"{path} has no _delta_log directory")

    @property
    def _cp(self) -> dict | None:
        """Re-read `_last_checkpoint` on every access (a KB): the
        EXTERNAL writer checkpoints and retention-cleans on its own
        schedule, and a long-lived reader (e.g. the base of an
        IncrementalAggView) caching a stale pointer would start
        failing contiguity checks the moment old JSON is cleaned —
        even though the table is perfectly readable through the new
        checkpoint."""
        lc = os.path.join(self.log_dir, "_last_checkpoint")
        if not os.path.exists(lc):
            return None
        with open(lc) as f:
            return json.load(f)

    def _json_versions(self) -> list[int]:
        """JSON commit versions that still exist on disk — with a
        checkpoint, the pre-checkpoint prefix may be legally cleaned,
        so no contiguity demand here; each consumer states its own."""
        return sorted(
            int(f[:20])
            for f in os.listdir(self.log_dir)
            if len(f) == 25 and f.endswith(".json") and f[:20].isdigit()
        )

    def versions(self) -> list[int]:
        vs = self._json_versions()
        cp = self._cp
        if cp is None:
            if vs and vs != list(range(0, vs[-1] + 1)):
                raise ValueError(
                    f"non-contiguous Delta log versions {vs} — log is corrupt "
                    "or vacuumed past version 0"
                )
            return vs
        c = cp["version"]
        tail = [v for v in vs if v > c]
        if tail and tail != list(range(c + 1, c + 1 + len(tail))):
            raise ValueError(
                f"non-contiguous Delta log tail {tail} after checkpoint "
                f"{c} — commits past the checkpoint must be complete"
            )
        return vs

    def latest_version(self) -> int:
        vs = self.versions()
        latest_json = vs[-1] if vs else -1
        cp = self._cp
        if cp is not None:
            return max(latest_json, cp["version"])
        return latest_json

    # -- checkpoint replay ----------------------------------------------

    def _checkpoint_for(self, as_of: int | None) -> dict | None:
        """The checkpoint a fold at ``as_of`` starts from, in the
        ``_last_checkpoint`` pointer's shape: the pointer itself when
        ``as_of`` is at or past it, else the newest complete checkpoint
        on disk at or below ``as_of`` (retention cleans the JSON
        prefix, not the older checkpoints), else None — replay the
        JSON from version 0. One pointer read per call: callers fold
        from the returned dict only, so an external checkpoint advance
        mid-operation cannot mix two generations."""
        cp = self._cp
        if cp is None or as_of is None or as_of >= cp["version"]:
            return cp
        layouts: dict[int, list[tuple[int, int] | None]] = {}
        for f in os.listdir(self.log_dir):
            m = _CHECKPOINT_NAME_RE.fullmatch(f)
            if m is not None and int(m.group("v")) <= as_of:
                layouts.setdefault(int(m.group("v")), []).append(
                    (int(m.group("i")), int(m.group("n")))
                    if m.group("n") else None
                )
        for v in sorted(layouts, reverse=True):
            found = layouts[v]
            if None in found:
                return {"version": v}
            for n in sorted({n for _i, n in found}):
                # a multipart checkpoint missing a part is incomplete
                # (a crashed writer) and is skipped, per the spec
                if {i for i, k in found if k == n} == set(range(1, n + 1)):
                    return {"version": v, "parts": n}
        return None

    def _checkpoint_files(self, cp: dict | None = None) -> list[str]:
        """Resolve the parquet file(s) a checkpoint's state lives in:
        classic single-file, multipart, or (round 13) a V2/UUID
        checkpoint — ``<v>.checkpoint.<uuid>.parquet`` discovered by
        directory listing per the spec, PLUS the sidecar parts its
        ``sidecar`` actions reference (newer clients move the
        add/remove state there on large tables). Every replay path
        (adds fold, tombstones, protocol/metaData, txn marks) iterates
        this list and column-guards, so sidecars — which carry ONLY
        file actions — compose for free. JSON-format v2 checkpoints
        stay a loud refusal. Callers that already read the pointer
        pass it in, so one logical operation never mixes two pointer
        generations."""
        if cp is None:
            cp = self._cp
        c = cp["version"]
        parts = cp.get("parts")
        if parts:
            names = [
                f"{c:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
                for i in range(1, parts + 1)
            ]
        else:
            names = [f"{c:020d}.checkpoint.parquet"]
        paths = [os.path.join(self.log_dir, n) for n in names]
        missing = [n for n, p in zip(names, paths) if not os.path.exists(p)]
        if missing:
            stem = f"{c:020d}.checkpoint."
            others = sorted(
                f for f in os.listdir(self.log_dir) if f.startswith(stem)
            )
            # V2 checkpoint: exactly one extra dot-token (the uuid).
            # The spec allows the main file in either container —
            # parquet or JSON-lines (same actions); sidecars are
            # always parquet. Multipart names carry TWO numeric
            # tokens and were resolved above.
            v2 = [
                f for f in others
                if f.endswith((".parquet", ".json")) and f.count(".") == 3
            ]
            if v2:
                main = os.path.join(self.log_dir, sorted(v2)[-1])
                return [main] + self._sidecar_files(main, c)
            if others:
                raise NotImplementedError(
                    f"unsupported checkpoint layout {others} at version {c} "
                    "— this reader replays classic, multipart, and "
                    "V2/UUID (parquet or JSON) checkpoints only; use a "
                    "full Delta client"
                )
            raise ValueError(
                f"_last_checkpoint names version {c} but {missing} "
                "is absent — checkpoint is incomplete or corrupt"
            )
        return paths

    def _sidecar_files(self, main: str, c: int) -> list[str]:
        """The sidecar parquet parts a V2 checkpoint references
        (``{"sidecar": {"path": …}}`` actions in the main file) —
        relative paths resolve under ``_delta_log/_sidecars/`` per the
        spec, absolute URIs strip their scheme; a referenced part that
        is MISSING refuses loudly (its add/remove state is simply
        gone, and folding without it silently truncates the table)."""
        out: list[str] = []
        for row in self._cp_rows(main, "sidecar"):
            if not row.get("path"):
                continue
            rel = str(row["path"])
            if "://" in rel:
                rel = rel.split("://", 1)[1]
                rel = "/" + rel.split("/", 1)[1] if "/" in rel else rel
            if os.path.isabs(rel):
                p = rel
                if not os.path.exists(p) and "/_sidecars/" in rel:
                    # moved/copied table: re-root on OUR log dir
                    p = os.path.join(
                        self.log_dir, "_sidecars",
                        rel.split("/_sidecars/", 1)[1],
                    )
            else:
                p = os.path.join(self.log_dir, "_sidecars", rel)
            if not os.path.exists(p):
                raise ValueError(
                    f"v2 checkpoint at version {c} references sidecar "
                    f"{row['path']!r} which does not exist — the "
                    "checkpoint state is incomplete; recover with the "
                    "owning client"
                )
            out.append(p)
        return out

    def _cp_rows(self, path: str, key: str) -> list[dict]:
        """Non-null rows of one top-level action ``key`` from one
        checkpoint part, container-agnostic: parquet parts
        column-prune through pyarrow; a JSON-lines part (the spec's
        alternate V2 main-file container — same actions, different
        coding) parses each line and pulls the key. Missing columns /
        absent actions yield []. This is the one seam every replay
        consumer (adds fold, tombstones, protocol/metaData, txn marks,
        schema, sidecar pointers) reads checkpoints through."""
        if path.endswith(".json"):
            out = []
            try:
                with open(path) as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        row = json.loads(line).get(key)
                        if row is not None:
                            out.append(row)
            except (UnicodeDecodeError, json.JSONDecodeError) as exc:
                raise ValueError(
                    f"{path}: JSON-format checkpoint part is not valid "
                    "JSON-lines — corrupt, or a misnamed binary file"
                ) from exc
            return out
        import pyarrow.parquet as pq

        if key not in pq.ParquetFile(path).schema_arrow.names:
            return []
        return [
            row
            for row in pq.read_table(path, columns=[key])
            .column(key).to_pylist()
            if row is not None
        ]

    def _checkpoint_adds_full(
        self, cp: dict | None = None
    ) -> list[tuple[str, dict, dict | None, str | None]]:
        """The live set at the checkpoint: its non-null ``add`` rows as
        (path, partitionValues, deletionVector-or-None, stats JSON
        string or None) tuples (paths still URL-encoded,
        root-relative). One column-pruned read serves every fold —
        real checkpoints materialize ``stats`` in the add rows, which
        is what keeps data skipping alive past a cleaned JSON prefix.
        A v2 main file may hold only metadata + sidecar pointers — its
        adds live in the sidecars."""
        adds: list[tuple[str, dict, dict | None, str | None]] = []
        for p in self._checkpoint_files(cp):
            for row in self._cp_rows(p, "add"):
                pv = row.get("partitionValues") or {}
                if isinstance(pv, list):
                    # pyarrow surfaces parquet MAP columns as [(k, v)]
                    pv = dict(pv)
                adds.append((
                    row["path"], pv,
                    row.get("deletionVector"), row.get("stats"),
                ))
        return adds

    def _checkpoint_removes(self, cp: dict | None = None) -> list[dict]:
        """Unexpired remove TOMBSTONES stored in the checkpoint (the
        spec keeps them there so VACUUM — ours and foreign clients' —
        can still honor retention after the JSON prefix is cleaned).
        Tolerates checkpoints without a ``remove`` column (tombstones
        already expired, or a minimal writer)."""
        out: list[dict] = []
        for p in self._checkpoint_files(cp):
            for row in self._cp_rows(p, "remove"):
                if row.get("path"):
                    out.append(row)
        return out

    def _tombstones(self) -> list[dict]:
        """The folded remove tombstones at the head: checkpoint
        tombstones + the JSON tail, latest action per path winning (a
        re-added path is live again, not a tombstone). Each dict keeps
        the committed action fields (path verbatim, deletionTimestamp,
        dataChange) — the inputs both ``write_checkpoint`` (carry
        forward) and ``vacuum`` (retention candidates) need."""
        cp = self._cp
        state: dict[str, dict | None] = {}
        lo = 0
        if cp is not None:
            for row in self._checkpoint_removes(cp):
                state[row["path"]] = {
                    k: v for k, v in row.items() if v is not None
                }
            # a DV'd add is still a LIVE file (its bitmap rides along,
            # and only paths matter here) — refusing on the descriptor
            # would wrongly crash the second write_checkpoint / vacuum
            # on any MoR-deleted table once checkpoint #1 bakes it in.
            for p, _pv, _dv, _st in self._checkpoint_adds_full(cp):
                state[p] = None  # live in the checkpoint: not a tombstone
            lo = cp["version"] + 1
        for _v, actions in self._json_commit_actions(lo, None):
            for a in actions:
                if "add" in a:
                    state[a["add"]["path"]] = None
                elif "remove" in a:
                    state[a["remove"]["path"]] = a["remove"]
        return [t for t in state.values() if t is not None]

    # reader features this minimal client actually honors when the
    # protocol announces them: deletion vectors refuse PER ADD (a table
    # with the feature enabled but no live DV carries nothing we would
    # misread), timestampNtz is just a type Spark reads natively, and
    # vacuumProtocolCheck constrains VACUUM (a write we never perform).
    # v2Checkpoint honored since round 13: _checkpoint_files discovers
    # the UUID-named main file and folds its sidecar parts
    _READER_FEATURES = {"deletionVectors", "timestampNtz",
                        "vacuumProtocolCheck", "v2Checkpoint"}

    def _protocol_meta(self, as_of: int | None = None) -> tuple[dict, dict]:
        """The latest ``protocol`` and ``metaData`` actions at or
        before ``as_of`` (checkpoint-aware) — the table facts a reader
        must consult BEFORE trusting its own scan: minReaderVersion /
        readerFeatures say whether this client may read at all, and
        metaData.partitionColumns says whether row values live in the
        log (add.partitionValues) instead of the parquet files."""
        import pyarrow.parquet as pq

        proto: dict = {}
        meta: dict = {}
        cp = self._checkpoint_for(as_of)
        lo = 0
        if cp is not None:
            for fp in self._checkpoint_files(cp):
                for row in self._cp_rows(fp, "protocol"):
                    proto = row
                for row in self._cp_rows(fp, "metaData"):
                    meta = row
            lo = cp["version"] + 1
        for _v, actions in self._json_commit_actions(lo, as_of):
            for a in actions:
                if "protocol" in a:
                    proto = a["protocol"]
                elif "metaData" in a:
                    meta = a["metaData"]
        return proto, meta

    def _check_readable(self, proto: dict, meta: dict) -> None:
        """Refuse — loudly, before any scan — tables whose protocol or
        metadata this minimal reader cannot honor. Silently wrong >
        unsupported: a column-mapped table read raw surfaces all-NULL
        columns (physical parquet names differ from the logical
        schema), and an unknown reader feature means the log encodes
        semantics we would ignore."""
        conf = meta.get("configuration") or {}
        if isinstance(conf, list):
            conf = dict(conf)  # pyarrow MAP columns surface as [(k, v)]
        mode = conf.get("delta.columnMapping.mode")
        if mode not in (None, "", "none"):
            # 'name' mode reads ARE supported (round 11, second half):
            # every scan renames physical → logical through the pinned
            # schema's physicalName metadata (_cm_mapping). 'id' mode
            # reads are supported since round 13: scans match parquet
            # columns by FIELD ID from the footers (_assemble_groups'
            # _IdMapping branch). The gates keep refusals for the
            # shapes this minimal reader cannot resolve faithfully.
            if mode == "name":
                self._check_name_mapping(meta)
            elif mode == "id":
                self._check_id_mapping(meta)
            else:
                raise NotImplementedError(
                    f"{self.path}: delta.columnMapping.mode={mode!r} "
                    "is not a protocol mode this reader understands; "
                    "use a full Delta client"
                )
        mrv = int(proto.get("minReaderVersion", 1) or 1)
        if mrv <= 1:
            return
        if mrv == 2:
            # reader v2 == column-mapping capability: 'none' is a
            # no-op, 'name' renames at scan (gated above), 'id' refused
            return
        if mrv == 3:
            feats = set(proto.get("readerFeatures") or [])
            # the columnMapping feature is honored the same way reader
            # v2 is: mode 'none' no-op / 'name' rename-at-scan / 'id'
            # refused — all resolved by the mode gate above
            feats.discard("columnMapping")
            unsupported = sorted(feats - self._READER_FEATURES)
            if unsupported:
                raise NotImplementedError(
                    f"{self.path}: protocol readerFeatures {unsupported} "
                    "are not honored by this minimal reader — scanning "
                    "anyway could silently misread the table; use a "
                    "full Delta client"
                )
            return
        raise NotImplementedError(
            f"{self.path}: minReaderVersion={mrv} is newer than this "
            "reader understands; use a full Delta client"
        )

    @staticmethod
    def _cm_unmapped_fields(st, key: str) -> list[str]:
        """Dotted paths of struct fields (at ANY depth, including
        inside arrays and maps) whose metadata lacks ``key`` — the
        recursive totality walk both mapping-mode gates share. A
        PARTIAL map at any depth must refuse before any scan: the
        mapped reader would silently misread exactly those fields."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        missing: list[str] = []

        def walk_dt(dt, prefix: str) -> None:
            if isinstance(dt, StructType):
                for f in dt.fields:
                    path = f"{prefix}.{f.name}" if prefix else f.name
                    if key not in (f.metadata or {}):
                        missing.append(path)
                    walk_dt(f.dataType, path)
            elif isinstance(dt, ArrayType):
                walk_dt(dt.elementType, prefix + ".element")
            elif isinstance(dt, MapType):
                walk_dt(dt.keyType, prefix + ".key")
                walk_dt(dt.valueType, prefix + ".value")

        walk_dt(st, "")
        return missing

    def _cm_check_partitions(self, meta: dict, st) -> None:
        """Partitioned mapped tables are in scope (round 14) as long
        as every partition column resolves to a schema field — the
        scan normalizes the log's partitionColumns (logical per
        Delta's convention, physical accepted too) and keys each add's
        partitionValues by the field's physicalName (logical
        fallback). A partition column naming NO field in either space
        cannot be resolved and refuses."""
        inv = {
            (f.metadata or {}).get("delta.columnMapping.physicalName"): f
            for f in st.fields
        }
        logical = {f.name for f in st.fields}
        bad = [
            c for c in (meta.get("partitionColumns") or [])
            if c not in logical and c not in inv
        ]
        if bad:
            raise NotImplementedError(
                f"{self.path}: partition columns {bad} match no schema "
                "field by logical OR physical name — partition values "
                "cannot be resolved; use a full Delta client"
            )

    def _check_name_mapping(self, meta: dict) -> None:
        """The shapes 'name'-mode column mapping reads support here
        (widened round 14): a TOTAL mapping — every struct field at
        EVERY depth carries its physicalName — on flat or NESTED
        schemas, partitioned or not (scans rewrite subfield names
        recursively via the ``_cm_phys_type``/``_cm_clean_type`` twins,
        and partition columns/values normalize through the mapping).
        Partial maps refuse loudly rather than silently misread."""
        st = parse_schema_string(meta.get("schemaString"), self.path)
        if st is None:
            raise NotImplementedError(
                f"{self.path}: delta.columnMapping 'name' mode with no "
                "parseable schemaString — the physical names live in "
                "the schema metadata; use a full Delta client"
            )
        unmapped = self._cm_unmapped_fields(
            st, "delta.columnMapping.physicalName"
        )
        if unmapped:
            raise NotImplementedError(
                f"{self.path}: delta.columnMapping 'name' mode but "
                f"fields {unmapped} carry no physicalName — a partial "
                "rename would silently misread them; use a full Delta "
                "client"
            )
        self._cm_check_partitions(meta, st)

    def _check_id_mapping(self, meta: dict) -> None:
        """The shapes 'id'-mode column mapping reads support here
        (round 13, widened round 14): a TOTAL id map — every struct
        field at EVERY depth carries ``delta.columnMapping.id`` — on
        flat or NESTED schemas, partitioned or not (Spark's fieldId
        matching resolves nested parquet columns once the read schema
        carries the ids recursively, ``_cm_id_read_type``; partition
        values live in the log and normalize through the mapping like
        'name' mode). Partial id maps refuse loudly rather than
        silently misread."""
        st = parse_schema_string(meta.get("schemaString"), self.path)
        if st is None:
            raise NotImplementedError(
                f"{self.path}: delta.columnMapping 'id' mode with no "
                "parseable schemaString — the field ids live in the "
                "schema metadata; use a full Delta client"
            )
        unmapped = self._cm_unmapped_fields(st, "delta.columnMapping.id")
        if unmapped:
            raise NotImplementedError(
                f"{self.path}: delta.columnMapping 'id' mode but "
                f"fields {unmapped} carry no delta.columnMapping.id — "
                "a partial id map would silently misread them; use a "
                "full Delta client"
            )
        self._cm_check_partitions(meta, st)

    def _json_commit_actions(self, lo: int, hi: int | None):
        """Yield (version, [action-dict, ...]) for JSON commits in
        [lo, hi] (hi=None → everything past lo), REQUIRING every
        version in the range to exist — a hole means commits this
        replay cannot see."""
        vs = [
            v
            for v in self._json_versions()
            if lo <= v and (hi is None or v <= hi)
        ]
        want_hi = hi if hi is not None else (vs[-1] if vs else lo - 1)
        if vs != list(range(lo, want_hi + 1)):
            raise ValueError(
                f"non-contiguous Delta log: missing JSON commits in "
                f"[{lo}, {want_hi}] (have {vs}) — cleaned past the "
                "requested version or corrupt"
            )
        for v in vs:
            with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                yield v, [json.loads(line) for line in f if line.strip()]

    def _live_fold(
        self, as_of: int | None = None
    ) -> dict[str, tuple[dict, dict | None, str | None]]:
        """ONE checkpoint + JSON-tail walk: raw add.path → (partition
        values, deletionVector descriptor or None, raw ``stats`` JSON
        string or None) for the live set at ``as_of``. Entry listing
        (``_live_entries_full``) and skip pruning (``_prune_fold``)
        both derive from this single fold — a skip-pruned read on
        exactly the checkpointed, many-commit tables skipping is meant
        to help must not pay the driver-side log walk twice."""
        cp = self._checkpoint_for(as_of)
        state: dict[str, tuple[str, dict, dict | None, str | None]] = {}
        if cp is not None:
            for p, pv, dv, st in self._checkpoint_adds_full(cp):
                state[p] = ("add", pv, dv, st)
        for _, actions in self._json_commit_actions(
            cp["version"] + 1 if cp is not None else 0, as_of
        ):
            for a in actions:
                if "add" in a:
                    state[a["add"]["path"]] = (
                        "add",
                        a["add"].get("partitionValues") or {},
                        a["add"].get("deletionVector"),
                        a["add"].get("stats"),
                    )
                elif "remove" in a:
                    state[a["remove"]["path"]] = ("remove", {}, None, None)
        return {
            p: (pv, dv, st)
            for p, (act, pv, dv, st) in state.items()
            if act == "add"
        }

    def _entries_sorted(
        self, fold: dict[str, tuple[dict, dict | None, str | None]]
    ) -> list[tuple[str, str, dict, dict | None]]:
        """A fold rendered as sorted (raw add.path EXACTLY as
        committed, resolved absolute path, partitionValues,
        deletionVector-or-None) entries. The raw string matters to
        writers: the log fold is keyed by it, so a remove tombstone
        must reuse the committed bytes verbatim — re-encoding a
        resolved path can produce a different percent-encoding
        canonicalization than the foreign writer's, leaving the
        original add live and silently resurrecting replaced rows.
        partitionValues ride along because for a partitioned table the
        partition columns' VALUES exist only here, never in the
        parquet files; the DV descriptor rides so ``snapshot`` can
        APPLY it (a removed-then-readded path takes the newest
        action's DV state, per the fold)."""
        from urllib.parse import unquote

        return sorted(
            (p, os.path.join(self.path, unquote(p)), pv, dv)
            for p, (pv, dv, _st) in fold.items()
        )

    def _live_entries_full(
        self, as_of: int | None = None
    ) -> list[tuple[str, str, dict, dict | None]]:
        """See ``_entries_sorted`` for the entry shape and its
        raw-path contract."""
        return self._entries_sorted(self._live_fold(as_of))

    @staticmethod
    def _stats_bounds(stats_str: str | None) -> dict | None:
        """Per-column [min, max] parsed from an add action's ``stats``
        string; None when absent/unparseable — absent metadata means
        "cannot prune", never "prune wrongly"."""
        if not stats_str:
            return None
        try:
            doc = json.loads(stats_str)
        except (TypeError, ValueError):
            return None
        mins = doc.get("minValues") or {}
        maxs = doc.get("maxValues") or {}
        return {c: [mins[c], maxs[c]] for c in mins if c in maxs}

    def _prune_fold(
        self,
        fold: dict[str, tuple[dict, dict | None, str | None]],
        skip: list[tuple] | None,
    ) -> set[str] | None:
        """The raw paths surviving ``skip`` = [(col, lo, hi), …] under
        the two log-level tiers (partition value first — authoritative,
        O(1) per file — then recorded [min, max]); None when no skip
        was requested (callers keep their already-folded entries).
        Pure function of an already-computed fold — never re-walks."""
        if not skip:
            return None
        keep: set[str] = set()
        for raw, (pv, _dv, st) in fold.items():
            b_all = self._stats_bounds(st)
            ok = True
            for col, lo_v, hi_v in skip:
                if _pv_prunes(pv, col, lo_v, hi_v):
                    ok = False
                    break
                b = (b_all or {}).get(col)
                if b is not None and _bounds_prune(b, lo_v, hi_v):
                    ok = False
                    break
            if ok:
                keep.add(raw)
        return keep

    def _live_entries(
        self, as_of: int | None = None
    ) -> list[tuple[str, str, dict]]:
        """The DV-free live fold WRITERS consume (optimize/vacuum/COW
        treat files as plain rows, which with a live deletion vector
        would resurrect deleted content — refuse loudly). Readers go
        through ``snapshot``, which applies DVs (round 11); an add
        whose DV was superseded by a later plain re-add folds clean."""
        out = []
        for raw, res, pv, dv in self._live_entries_full(as_of):
            if dv is not None:
                raise NotImplementedError(
                    f"add action for {raw} carries a deletion vector — "
                    "this caller treats files as plain rows, which would "
                    "resurrect deleted content; snapshot() applies DVs; "
                    "rewrite/maintain the table with its owning client"
                )
            out.append((raw, res, pv))
        return out

    def _live_adds(self, as_of: int | None = None) -> list[tuple[str, dict]]:
        """(resolved absolute path, partitionValues) pairs, sorted."""
        return sorted(
            (res, pv) for _raw, res, pv in self._live_entries(as_of)
        )

    def live_paths(
        self,
        as_of: int | None = None,
        skip: list[tuple] | None = None,
    ) -> list[str]:
        """Resolved live paths, optionally pruned by ``skip`` =
        [(col, lo, hi), …] through the two log-level tiers (partition
        values, then the add actions' recorded min/max stats) — over
        a table this engine or some OTHER Delta engine wrote. Refuses
        on DV'd tables as always — BEFORE the skip filter (a
        pruned-away DV'd file is still a file this caller would
        mishandle if the skip range moved)."""
        fold = self._live_fold(as_of)
        kept = self._prune_fold(fold, skip)
        out = []
        for raw, res, _pv, dv in self._entries_sorted(fold):
            if dv is not None:
                raise NotImplementedError(
                    f"add action for {raw} carries a deletion vector — "
                    "this caller treats files as plain rows, which would "
                    "resurrect deleted content; snapshot() applies DVs; "
                    "rewrite/maintain the table with its owning client"
                )
            if kept is None or raw in kept:
                out.append(res)
        return out

    def _txn_marks(self) -> dict[str, int]:
        """appId → highest recorded ``txn.version`` — Delta's
        transaction-identifier idempotence marks, folded
        checkpoint-aware (real Delta checkpoints materialize one
        ``txn`` row per appId, so the fold is checkpoint rows + the
        JSON tail only)."""
        import pyarrow.parquet as pq

        marks: dict[str, int] = {}

        def take(app, ver):
            marks[app] = max(marks.get(app, -1), int(ver))

        cp = self._cp
        lo = 0
        if cp is not None:
            for fp in self._checkpoint_files(cp):
                for row in self._cp_rows(fp, "txn"):
                    if row.get("appId") is not None:
                        take(row["appId"], row["version"])
            lo = cp["version"] + 1
        for _v, actions in self._json_commit_actions(lo, None):
            for a in actions:
                if "txn" in a and a["txn"].get("appId") is not None:
                    take(a["txn"]["appId"], a["txn"]["version"])
        return marks

    def last_txn_version(self, app_id: str) -> int:
        """Highest ``txn.version`` any commit recorded for ``appId``
        (-1 when none) — the idempotence probe an exactly-once sink
        reads once per micro-batch."""
        return self._txn_marks().get(app_id, -1)

    def table_schema(self, as_of: int | None = None):
        """The table's Spark schema from the latest ``metaData``
        action's ``schemaString`` at or before ``as_of`` (Delta
        serializes exactly Spark's StructType JSON) — checkpoint-aware.
        None when the table never recorded a parseable schema (e.g.
        minimal fixtures with ``schemaString: "{}"``); a PRESENT but
        malformed schemaString raises rather than silently falling
        back to footer sampling (a checkpoint whose parquet simply has
        no metaData column is fine; a corrupt checkpoint raises).
        Pinning the read matters: an externally-evolved table read
        raw resolves to whichever file's footer Spark samples."""
        doc = None
        cp = self._checkpoint_for(as_of)
        lo = 0
        if cp is not None:
            for fp in self._checkpoint_files(cp):
                for row in self._cp_rows(fp, "metaData"):
                    if row.get("schemaString"):
                        doc = row["schemaString"]
            lo = cp["version"] + 1
        for _v, actions in self._json_commit_actions(lo, as_of):
            for a in actions:
                if "metaData" in a and a["metaData"].get("schemaString"):
                    doc = a["metaData"]["schemaString"]
        return parse_schema_string(doc, self.path)

    def _assemble(
        self,
        spark: SparkSession,
        adds: list[tuple[str, dict]],
        st,
        part_cols: list[str],
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """Partition-aware scan assembly — see ``_assemble_groups``
        (Delta keeps partition values in the log, never in the
        parquet files). ``mapping`` (from
        ``_mapping_for``) makes the scan read PHYSICAL names and
        rename — column-mapped 'name'-mode tables."""
        return _assemble_groups(
            spark, adds, st, part_cols, mapping=mapping
        )

    def _mapping_for(self, meta: dict) -> dict[str, str] | None:
        """The logical→physical rename for this metaData, or None.
        MODE-GATED on configuration, not inferred from the schema
        alone: stray physicalName field metadata on an UNMAPPED table
        (e.g. carried into a schemaString by a client that didn't
        strip it) must not trigger renames against files whose
        columns are logical."""
        conf = (meta or {}).get("configuration") or {}
        if isinstance(conf, list):
            conf = dict(conf)
        mode = conf.get("delta.columnMapping.mode")
        if mode == "name":
            return _cm_mapping(
                parse_schema_string(meta.get("schemaString"), self.path)
            )
        if mode == "id":
            return _cm_id_mapping(
                parse_schema_string(meta.get("schemaString"), self.path)
            )
        return None

    def changes_cdf(
        self, spark: SparkSession, since: int, to: int | None = None
    ) -> DataFrame | None:
        """The table's ROW-LEVEL change feed for versions (``since``,
        ``to``] — incremental consumption of a Delta table this engine
        or another one wrote. Adds-only commits emit their rows as
        plain ``insert``; ``dataChange: false`` actions (OPTIMIZE /
        clustering traffic) are skipped; windows containing
        data-changing removes (another engine's COW DELETE / UPDATE /
        MERGE / overwrite) resolve by diffing the removed files'
        content against their rewrites (multiset EXCEPT ALL; both sides
        are immutable parquet until the owner's vacuum), labeled
        ``_change_type`` + ``_commit_version``; commits whose
        commitInfo.operation is UPDATE label update_preimage/
        update_postimage, everything else delete/insert. The schema is
        pinned AT the window head: an external non-additive evolution
        after the window must not break reading its files.

        Window contract: the window may not extend past the log head
        (recording it as a watermark would skip later commits); its
        own JSON commits must survive — below a cleaned checkpoint
        there is no change information (checkpoints store STATE) — and
        files the owner's retention already reclaimed refuse loudly.
        Only the window is walked: the pre-window fold (checkpoint +
        JSON, ``_live_fold``) is read only when a window remove names
        a file the window did not add, whose partition values and
        deletion vector live in that file's original add.

        DELETION-VECTOR FLIPS resolve too (round 11, second half —
        previously a refusal): a MoR DELETE commits remove+add on the
        SAME path with a bigger vector, so the window's sides assemble
        with their RESPECTIVE vectors applied (the remove's descriptor
        — or, when a foreign writer omits it from the tombstone, the
        path's pre-commit fold state) and the same EXCEPT-ALL algebra
        yields exactly the flipped rows: carried-through rows cancel,
        newly-deleted positions surface as ``delete`` rows. O(changed
        rows) after the two bounded scans — which is what lets
        ``IncrementalAggView`` fold another engine's MoR deletes as
        signed retractions without a rebuild.

        CHANGE DATA FILES (round 13): a commit carrying ``cdc``
        actions — written by CDF-enabled writers, including this
        engine's own ``DeltaTableWriter`` on tables with
        ``delta.enableChangeDataFeed=true`` — is consumed from its
        ``_change_data`` files ALONE, per PROTOCOL.md: the cdc parquet
        already holds the labeled change rows (table columns +
        ``_change_type``), and the same commit's add/remove actions
        describe the SAME changes, so diffing them too would
        double-count. This is also the only faithful read of a foreign
        writer's commit whose change set is NOT derivable from its
        file actions (e.g. Spark Delta's MERGE, whose cdc files carry
        the update pre/postimages its rewritten files interleave)."""
        from urllib.parse import unquote

        from pyspark.sql.types import StringType, StructField, StructType

        latest = self.latest_version()
        hi = latest if to is None else to
        if hi > latest:
            raise ValueError(
                f"change window ({since}, {hi}] extends past the log head "
                f"{latest} — recording it as a watermark would silently "
                "skip the commits that land there later"
            )
        proto, meta = self._protocol_meta(hi)
        self._check_readable(proto, meta)
        part_cols = meta.get("partitionColumns") or []
        st = self.table_schema(hi)
        # partition values and deletion-vector state per path, as of
        # each commit: a remove takes its path's pre-commit state (a
        # tombstone that omits the DV descriptor must not be scanned
        # raw — that would resurrect rows into the preimage)
        pv_by_path: dict[str, dict] = {}
        dv_by_path: dict[str, dict | None] = {}
        commits = list(self._json_commit_actions(since + 1, hi))
        added: set[str] = set()
        for _v, actions in commits:
            if any(
                "remove" in a and a["remove"].get("dataChange", True)
                and a["remove"]["path"] not in added
                for a in actions
            ):
                for p, (pv, dv, _st) in self._live_fold(since).items():
                    pv_by_path[p] = pv
                    dv_by_path[p] = dv
                break
            added.update(a["add"]["path"] for a in actions if "add" in a)
        window: list[
            tuple[int, str | None, list[tuple[str, dict | None]],
                  list[tuple[str, dict | None]], list[tuple[str, dict]]]
        ] = []
        for v, actions in commits:
            adds: list[tuple[str, dict | None]] = []
            removes: list[tuple[str, dict | None]] = []
            cdcs: list[tuple[str, dict]] = []
            op = next(
                (a["commitInfo"].get("operation") for a in actions
                 if "commitInfo" in a),
                None,
            )
            for a in actions:
                if "remove" in a and a["remove"].get("dataChange", True):
                    rp = a["remove"]["path"]
                    removes.append((
                        rp,
                        a["remove"].get("deletionVector")
                        or dv_by_path.get(rp),
                    ))
                if "cdc" in a:
                    cdcs.append((
                        a["cdc"]["path"],
                        a["cdc"].get("partitionValues") or {},
                    ))
            for a in actions:
                if "add" in a:
                    ap = a["add"]["path"]
                    pv_by_path[ap] = (
                        a["add"].get("partitionValues") or {}
                    )
                    dv_by_path[ap] = a["add"].get("deletionVector")
                    if a["add"].get("dataChange", True):
                        adds.append((ap, dv_by_path[ap]))
            if adds or removes or cdcs:
                window.append((v, op, adds, removes, cdcs))
        if not window:
            return None
        def res(p: str) -> str:
            return os.path.join(self.path, unquote(p))

        # per commit, only the files the replay will actually read
        # must still exist: change-data files for cdc commits, the
        # add/remove bytes for derivation commits
        gone = sorted({
            p
            for _v, _op, adds, removes, cdcs in window
            for p in (
                [c for c, _pv in cdcs]
                if cdcs
                else [p for p, _dv in adds + removes]
            )
            if not os.path.exists(res(p))
        })
        if gone:
            raise ValueError(
                f"change window ({since}, {hi}] references data the "
                f"external writer's retention already cleaned "
                f"({gone[:3]}…) — row-level changes need the removed "
                "bytes; consume within its retention, or rebuild from "
                "the snapshot"
            )
        frames: list[DataFrame] = []
        cmap = self._mapping_for(meta)
        st_ct = (
            StructType(
                list(st.fields)
                + [StructField("_change_type", StringType(), True)]
            )
            if st is not None
            else None
        )
        for v, op, adds, removes, cdcs in window:
            if cdcs:
                # spec rule: when a commit carries cdc actions, its
                # changes come from the change-data files alone — the
                # labels are IN the files (_change_type column)
                cdc_e = [(p, res(p), pv, None) for p, pv in cdcs]
                frames.append(
                    self._assemble_mor(
                        spark, cdc_e, st_ct, part_cols, mapping=cmap
                    )
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
                continue
            add_e = [
                (p, res(p), pv_by_path.get(p) or {}, dv)
                for p, dv in adds
            ]
            if not removes:
                frames.append(
                    self._assemble_mor(
                        spark, add_e, st, part_cols, mapping=cmap
                    )
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
                continue
            rem_e = [
                (p, res(p), pv_by_path.get(p) or {}, dv)
                for p, dv in removes
            ]
            r_df = self._assemble_mor(
                spark, rem_e, st, part_cols, mapping=cmap
            )
            a_df = (
                self._assemble_mor(
                    spark, add_e, st, part_cols, mapping=cmap
                )
                if add_e
                else r_df.limit(0)
            )
            pre, post = (
                ("update_preimage", "update_postimage")
                if (op or "").upper() == "UPDATE"
                else ("delete", "insert")
            )
            frames.append(
                r_df.exceptAll(a_df)
                .withColumn("_change_type", F.lit(pre))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            frames.append(
                a_df.exceptAll(r_df)
                .withColumn("_change_type", F.lit(post))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def _window_has_dc_removes(self, since: int, to: int) -> bool:
        """Driver-side probe: does (``since``, ``to``] contain a
        data-changing remove? Lets a min/max IncrementalAggView refuse
        a window it cannot fold without a Spark job.
        Windows below a cleaned checkpoint raise via the contiguity
        check — there is no change information there either way."""
        for _v, actions in self._json_commit_actions(since + 1, to):
            for a in actions:
                if "remove" in a and a["remove"].get("dataChange", True):
                    return True
        return False

    def history(self) -> list[dict]:
        """(version, operation, timestamp) per SURVIVING JSON commit —
        DESCRIBE HISTORY's core and time travel's clock. The timestamp
        is the commitInfo's epoch-ms, or the commit file's mtime when a
        foreign commit omits it. Commits compacted into a checkpoint
        and cleaned are gone from history too, exactly as in Delta."""
        out = []
        for v in self.versions():
            path = os.path.join(self.log_dir, f"{v:020d}.json")
            with open(path) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
            out.append({
                "version": v,
                "operation": info.get("operation"),
                "timestamp": int(
                    info.get("timestamp") or os.path.getmtime(path) * 1000
                ),
            })
        return out

    def version_at(self, ts_ms: int) -> int | None:
        """The latest surviving commit at or before epoch-ms ``ts_ms``
        (None when there is none)."""
        hits = [(h["timestamp"], h["version"]) for h in self.history()
                if h["timestamp"] <= ts_ms]
        return max(hits)[1] if hits else None

    def snapshot(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        skip: list[tuple] | None = None,
    ) -> DataFrame:
        """Scan the snapshot at ``as_of`` (default: latest) — time
        travel over a Delta table someone else wrote. ``skip`` =
        [(col, lo, hi), …] prunes files LOG-side before the scan plan
        exists (partition values first, then add.stats min/max — the
        two-tier skipping a foreign writer's stats enable). A snapshot
        with no live file — at any version, or once the skip prunes
        every file — is an empty frame under the pinned schema; only a
        table with no recorded schema raises. The protocol /
        metaData gate runs first (column mapping, unknown reader
        features refuse loudly); reads pin the metaData schemaString
        AT ``as_of`` (see ``table_schema``) — Delta reconstructs the
        queried version's own metadata, so time travel across a
        non-additive external evolution returns that version's actual
        content, not NULLs under the newest shape (``changes_cdf``
        pins its window head the same way). Partitioned tables get their
        partition columns synthesized from add.partitionValues (see
        ``_assemble``) — the values live only in the log.

        DELETION VECTORS are applied (round 11; previously a refusal):
        an add carrying a DV descriptor has its vector decoded
        (inline/UUID-file/path storage, z85 + 64-bit portable roaring
        per the public specs — operators/deletion_vectors.py) into
        (file, row ordinal) pairs, and the scan LEFT ANTI-joins them
        on ``_metadata`` file-path/row-index — the exact plan Iceberg
        position deletes already execute here. WRITER paths
        (optimize/vacuum/COW) still refuse DV'd tables loudly: they
        treat files as plain rows, which would resurrect deleted
        content."""
        proto, meta = self._protocol_meta(as_of)
        self._check_readable(proto, meta)
        fold = self._live_fold(as_of)  # ONE walk serves scan + skip
        entries = self._entries_sorted(fold)
        st = self.table_schema(as_of)
        part_cols = meta.get("partitionColumns") or []
        kept = self._prune_fold(fold, skip)
        if kept is not None:
            entries = [e for e in entries if e[0] in kept]
        if not entries:
            # no live file (every row deleted, an empty append, or a
            # skip that pruned them all): the table is its schema
            if st is None:
                raise ValueError(
                    f"delta table {self.path} has no live files at "
                    f"version {as_of if as_of is not None else 'latest'}"
                    " and no recorded schema to shape an empty result"
                )
            return spark.createDataFrame([], _cm_clean_type(st))
        return self._assemble_mor(
            spark, entries, st, part_cols,
            mapping=self._mapping_for(meta),
        )

    def _assemble_mor(
        self,
        spark: SparkSession,
        entries: list[tuple[str, str, dict, dict | None]],
        st,
        part_cols: list[str],
        keep_pos: bool = False,
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """Assemble a PINNED entry list with deletion vectors applied —
        the merge-on-read scan shared by ``snapshot`` and the writer's
        COW/MoR mutation paths (which must scan exactly the entries
        they will tombstone, never a re-folded live set). With
        ``keep_pos`` the normalized local path / row ordinal ride along
        as ``__lp`` / ``__pos`` — the identity a MoR DELETE's new
        vector is built from (surviving-row ordinals stay PHYSICAL:
        they index the raw file, which is what a DV addresses)."""
        adds = sorted((res, pv) for _raw, res, pv, _dv in entries)
        dv_entries = [(res, dv) for _raw, res, _pv, dv in entries if dv]
        if not dv_entries and not keep_pos:
            return self._assemble(spark, adds, st, part_cols, mapping)
        from algebraicdb_spark.operators.deletion_vectors import (
            dv_positions,
        )
        from algebraicdb_spark.operators.mutation import local_path

        del_rows = [
            (res, int(pos))
            for res, dv in dv_entries
            for pos in dv_positions(self.path, dv)
        ]
        df = _assemble_groups(
            spark, adds, st, part_cols,
            with_metadata=True, mapping=mapping,
        )
        cols = [c for c in df.columns if c not in ("__fp", "__pos")]
        df = df.withColumn("__lp", local_path(F.col("__fp")))
        if del_rows:
            dels = spark.createDataFrame(del_rows, "__lp string, __pos long")
            df = df.join(F.broadcast(dels), ["__lp", "__pos"], "left_anti")
        if keep_pos:
            return df.select(*cols, "__lp", "__pos")
        return df.select(*cols)


def _fresh_table(spark: SparkSession, sf_dir: str, name: str):
    """An empty standard Delta table (``DeltaTableWriter``) under the
    key's scratch directory."""
    import shutil

    from algebraicdb_spark.operators.delta_writer import DeltaTableWriter

    base = _scratch(name, sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    return DeltaTableWriter(base)


@register(
    "sink_txnlog_append",
    # Writer lifecycle: v0 append (o_orderkey%3==0), v1 append (%3==1),
    # v2 OVERWRITE with the 'F'-status subset of everything. The oracle
    # recomputes the final content directly from the fixture.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sink_txnlog_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional writer lifecycle on a standard Delta table: two
    APPEND commits build the table, an OVERWRITE commit (curation pass
    keeping only status-'F' rows) replaces the snapshot, and a stale
    overwrite is REFUSED by the optimistic version check — then the
    final snapshot is read back through log replay. The aggregate
    over the result proves the committed content is exactly append₀ ∪
    append₁ curated, no uncommitted or tombstoned file leaking in."""
    o = load_tables(spark, sf_dir)["orders"]
    t = _fresh_table(spark, sf_dir, "txnlog_w")
    v0 = t.append(o.where(F.col("o_orderkey") % 3 == 0))
    v1 = t.append(o.where(F.col("o_orderkey") % 3 == 1))
    assert (v0, v1) == (0, 1)
    curated = t.snapshot(spark).where(F.col("o_orderstatus") == "F")
    # a writer that read v0 and tries to overwrite now must LOSE:
    try:
        t.overwrite(curated, expected_version=1)
        raise AssertionError("stale overwrite must be refused")
    except ConcurrentWriteError:
        pass
    t.overwrite(curated, expected_version=2)
    snap = t.snapshot(spark)
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
        ).alias("total"),
    )


@register(
    "source_txnlog_time_travel",
    # AS OF v1 sees appends 0+1 in full (the later overwrite is
    # invisible); the oracle recomputes that pre-overwrite content.
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    """,
)
def source_txnlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: the same writer lifecycle as sink_txnlog_append,
    read back AS OF version 1 — the pre-overwrite snapshot, with every
    row the curation pass later tombstoned still visible. Versioned
    reads are what make table formats auditable (reproduce any past
    training run) and are free here: old data files are immutable, so
    time travel is just folding a shorter log prefix."""
    o = load_tables(spark, sf_dir)["orders"]
    t = _fresh_table(spark, sf_dir, "txnlog_tt")
    t.append(o.where(F.col("o_orderkey") % 3 == 0))
    t.append(o.where(F.col("o_orderkey") % 3 == 1))
    t.overwrite(
        t.snapshot(spark).where(F.col("o_orderstatus") == "F"),
        expected_version=2,
    )
    past = t.snapshot(spark, as_of=1)
    return past.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@register(
    "sink_delta_cdf",
    # CDF-enabled standard Delta: delete (o%20=0) + update (o%20=10,
    # price+100) over the o%5=0 base; the change feed replays from the
    # _change_data files the mutations landed. The oracle recomputes
    # the three labeled change sets straight from the fixture — the
    # preds are disjoint, so the update's preimages are untouched by
    # the delete.
    oracle="""
    SELECT _change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM (
        SELECT 'delete' AS _change_type, o_totalprice
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 20 = 0
        UNION ALL
        SELECT 'update_preimage', o_totalprice
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 20 = 10
        UNION ALL
        SELECT 'update_postimage', o_totalprice + 100
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 20 = 10
    ) ch
    GROUP BY _change_type
    """,
)
def sink_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED interop (round 13): enable
    ``delta.enableChangeDataFeed`` through the atomic protocol-upgrade
    route, run a COW DELETE and a COW UPDATE — each landing its
    row-level diff as ``_change_data/`` parquet + ``cdc`` actions in
    the SAME commit (delta_writer._cdc_actions) — then consume the
    window through ``DeltaLogTable.changes_cdf``, which per the
    protocol reads commits carrying cdc actions from their change
    files ALONE. The structural assert pins that the cdc actions are
    really in the commits (the feed isn't silently falling back to the
    add/remove diff)."""
    import shutil

    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    from algebraicdb_spark.operators.delta_writer import DeltaTableWriter

    base = _scratch("delta_cdf", sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    w = DeltaTableWriter(base)
    w.append(o.where(F.col("o_orderkey") % 5 == 0))
    since = w.set_properties({"delta.enableChangeDataFeed": "true"})
    d = w.delete(spark, "o_orderkey % 20 = 0")
    u = w.update(spark, {"o_totalprice": "o_totalprice + 100"},
                 "o_orderkey % 20 = 10")
    for v in (d["version"], u["version"]):
        with open(os.path.join(base, "_delta_log",
                               f"{v:020d}.json")) as fh:
            acts = [json.loads(line) for line in fh if line.strip()]
        assert any("cdc" in a for a in acts), (
            "CDF commit must carry cdc actions"
        )
    feed = DeltaLogTable(base).changes_cdf(spark, since=since)
    return feed.groupBy("_change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double"),
        ).alias("total"),
    )


@register(
    "dialect_changes_feed",
    # the SQL CHANGES(t, since) surface over a mutated Delta table:
    # delete (l_quantity < 5) + update (l_quantity > 45, price*2) on
    # the l_orderkey%7=0 base; disjoint preds, so the oracle recomputes
    # each labeled set from the fixture directly.
    oracle="""
    SELECT _change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM (
        SELECT 'delete' AS _change_type, l_extendedprice
        FROM lineitem WHERE l_orderkey % 7 = 0 AND l_quantity < 5
        UNION ALL
        SELECT 'update_preimage', l_extendedprice
        FROM lineitem WHERE l_orderkey % 7 = 0 AND l_quantity > 45
        UNION ALL
        SELECT 'update_postimage', l_extendedprice * 2
        FROM lineitem WHERE l_orderkey % 7 = 0 AND l_quantity > 45
    ) ch
    GROUP BY _change_type
    """,
)
def dialect_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface for the row-level change feed (round 13):
    ``SELECT … FROM CHANGES(t, <since>)`` on an ATTACHed Delta table
    lowers to ``DeltaLogTable.changes_cdf`` and composes with the read
    grammar — here a GROUP BY over the feed, exactly the shape a CDC
    consumer polls. Mutations go through the writer API; the read goes
    through the ENGINE end-to-end (ATTACH + CHANGES), so the whole
    dialect-to-feed path is under the oracle."""
    from algebraicdb_spark.engine import Engine

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    t = _fresh_table(spark, sf_dir, "changes_sql")
    t.append(li.where(F.col("l_orderkey") % 7 == 0))
    t.delete(spark, "l_quantity < 5")
    t.update(spark, {"l_extendedprice": "l_extendedprice * 2"},
             "l_quantity > 45")
    from algebraicdb_spark.functions.rounding import pround_sql

    eng = Engine(spark)
    eng.sql(f"ATTACH TABLE chfeed FROM delta LOCATION '{t.path}'")
    total = pround_sql(
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)"
    )
    return eng.sql(
        "SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n, "
        f"{total} AS total "
        "FROM CHANGES(chfeed, 0) GROUP BY _change_type"
    )


@register(
    "source_iceberg_dv",
    # v3 + deletion vectors end-to-end: the l%11 lineitem subset is
    # CTAS'd, the table is upgraded 2 -> 3 (metadata-only, the real
    # client's ALTER), and DELETE l_quantity < 10 lands as a Puffin
    # deletion vector (v3's native delete — zero data rewrite). The
    # scan applies the DVs like position deletes; the oracle
    # recomputes the surviving rows from the fixture.
    oracle="""
    SELECT l_linenumber,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM lineitem
    WHERE l_orderkey % 11 = 0 AND l_quantity >= 10
    GROUP BY l_linenumber
    """,
)
def source_iceberg_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format-version 3 with PUFFIN deletion vectors (round
    14): append, ``upgrade_format_version(3)``, then a DELETE that
    writes a deletion vector instead of rewriting data files —
    O(deleted rows) committed, zero row-id churn. The read path
    decodes the DV blobs (roaring bitmaps, CRC-checked frames) and
    anti-joins the positions at scan, exactly like position deletes.
    The structural assert pins that the mutation really is
    merge-on-read: the data file set is unchanged by the delete."""
    import shutil

    from algebraicdb_spark.operators.iceberg import IcebergTable
    from algebraicdb_spark.operators.iceberg_writer import (
        IcebergTableWriter,
    )

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    base = _scratch("iceberg_dv", sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    w = IcebergTableWriter(base)
    w.append(li.where(F.col("l_orderkey") % 11 == 0))
    w.upgrade_format_version(3)
    files_before = sorted(
        u for _p, u, _s in IcebergTable(base)._files(None)[0]
    )
    w.delete(spark, "l_quantity < 10")
    t = IcebergTable(base)
    assert sorted(u for _p, u, _s in t._files(None)[0]) == files_before, (
        "v3 delete must be merge-on-read: no data file rewritten"
    )
    assert t._files(None)[3], "the delete must have committed a DV"
    return t.snapshot(spark).groupBy("l_linenumber").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("l_orderkey").cast("bigint").alias("sum_key"),
        pround(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double"),
        ).alias("total"),
    )


def _view_state_out(view, spark: SparkSession) -> DataFrame:
    """The view state under the oracle-comparable shape: exact
    DECIMAL(38,6) sums surfaced as pround'ed doubles."""
    out = view.state.snapshot(spark)
    cols = [F.col(c) for c in view.group_cols]
    cols.append(F.col("n_rows"))
    for c in view.sum_cols:
        cols.append(
            pround(F.col(f"sum_{c}").cast("double")).alias(f"total_{c}")
        )
    return out.select(*cols)


@register(
    "view_incremental_refresh",
    # Incrementally-maintained matview over a Delta base: two append
    # windows fold insert-only partials, then a COW DELETE window folds
    # SIGNED retractions through the same row-level feed. The oracle
    # recomputes the final groupBy from the fixture — the incremental
    # state must be bit-equal to that from-scratch answer.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             AS total_o_totalprice
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1) AND o_orderstatus <> 'O'
    GROUP BY o_orderpriority
    """,
)
def view_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IncrementalAggView`` lifecycle: REFRESH after each base
    commit folds O(delta) through ``changes_cdf`` — the first two
    windows are plain inserts, the COW DELETE window signed partials
    (inserts +1, preimages -1), and groups retracted to zero
    vanish exactly as a rebuild would drop them. The watermark commits
    ATOMICALLY with the state (it IS the state commit's txn marker),
    so a crash between them is impossible by construction. Exact
    decimal sums make the state bit-equal to recompute, which is what
    the oracle checks."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    t = _fresh_table(spark, sf_dir, "view_base")
    state_dir = _scratch("view_state", sf_dir)
    import shutil

    if os.path.isdir(state_dir):
        shutil.rmtree(state_dir)
    view = IncrementalAggView(
        t.reader(), state_dir, group_cols=["o_orderpriority"],
        sum_cols=["o_totalprice"],
    )
    t.append(o.where(F.col("o_orderkey") % 4 == 0))
    assert view.refresh(spark) == 0
    t.append(o.where(F.col("o_orderkey") % 4 == 1))
    assert view.refresh(spark) == 1
    t.delete(spark, "o_orderstatus = 'O'")
    assert view.refresh(spark) == 2
    assert view.refresh(spark) is None  # already current: no-op
    return _view_state_out(view, spark)


@register(
    "view_iceberg_agg",
    # The same matview over an ICEBERG base (round 14): the watermark
    # keys on the spec's monotonic sequence numbers via
    # IcebergViewBase; the COW-delete window folds signed retractions
    # from the iceberg row-level feed. Oracle = from-scratch groupBy
    # over the surviving fixture rows.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
             AS total_l_quantity
    FROM lineitem
    WHERE l_orderkey % 13 IN (0, 1) AND l_quantity <= 40
    GROUP BY l_returnflag
    """,
)
def view_iceberg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IncrementalAggView`` over an Iceberg base through
    ``IcebergViewBase`` (round 14): snapshot ids are random on foreign
    tables, so the watermark is the spec's SEQUENCE NUMBER, resolved
    to snapshot ids along the current ancestor chain at each feed
    call. Every window folds the iceberg ``changes_cdf``: window 1
    bootstraps from the root, window 2 folds an append as inserts,
    window 3 contains a COW DELETE and folds as signed partials —
    bit-equal to rebuild, which is exactly what the oracle
    recomputes."""
    import shutil

    from algebraicdb_spark.operators.iceberg import IcebergViewBase
    from algebraicdb_spark.operators.iceberg_writer import (
        IcebergTableWriter,
    )

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    base = _scratch("view_iceberg", sf_dir)
    state_dir = _scratch("view_iceberg_state", sf_dir)
    for d in (base, state_dir):
        if os.path.isdir(d):
            shutil.rmtree(d)
    w = IcebergTableWriter(base)
    w.append(li.where(F.col("l_orderkey") % 13 == 0))
    view = IncrementalAggView(
        IcebergViewBase(base), state_dir,
        group_cols=["l_returnflag"], sum_cols=["l_quantity"],
    )
    assert view.refresh(spark) == 1  # sequence number, not snapshot id
    w.append(li.where(F.col("l_orderkey") % 13 == 1))
    assert view.refresh(spark) == 2
    w.delete(spark, "l_quantity > 40")
    assert view.refresh(spark) == 3
    return _view_state_out(view, spark)


@register(
    "sink_iceberg_upsert",
    # Keyed CDC upsert via v2 EQUALITY DELETES: base = o%6==0 orders,
    # upsert batch = o%12==0 with price+1000 plus fresh keys (o%6==3
    # rewritten to key space o+1, guaranteed disjoint from %6==0). One
    # commit, O(batch), zero existing bytes touched. The oracle
    # recomputes the post-upsert content: non-upserted base rows keep
    # their price, upserted keys take the batch's, new keys append.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM (
        SELECT o_orderpriority, o_totalprice AS price
        FROM orders
        WHERE o_orderkey % 6 = 0 AND o_orderkey % 12 <> 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice + 1000
        FROM orders WHERE o_orderkey % 12 = 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 6 = 3
    ) t
    GROUP BY o_orderpriority
    """,
)
def sink_iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg keyed UPSERT — the shape equality deletes exist for:
    ONE commit lands an equality-delete file of the batch's key
    values plus the batch itself at the same sequence number, so the
    spec's strictly-lower rule kills old rows and keeps the new batch
    with NO probe scan at all — O(batch) regardless of table size,
    which is why streaming CDC sinks use it (a MERGE must at least
    semi-join the table). The structural assert pins that the base
    data files were NOT rewritten; the read resolves the delete
    strata through the fixture-validated reader ordering."""
    import shutil

    from algebraicdb_spark.operators.iceberg import IcebergTable
    from algebraicdb_spark.operators.iceberg_writer import (
        IcebergTableWriter,
    )

    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = _scratch("iceberg_upsert", sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    w = IcebergTableWriter(base)
    w.append(
        o.where(F.col("o_orderkey") % 6 == 0)
        .withColumnRenamed("o_totalprice", "price")
    )
    files_before = sorted(
        u for _p, u, _s in IcebergTable(base)._files(None)[0]
    )
    batch = (
        o.where(F.col("o_orderkey") % 12 == 0)
        .select(
            "o_orderkey", "o_orderpriority",
            (F.col("o_totalprice") + 1000).alias("price"),
        )
        .unionByName(
            # fresh keys, disjoint from the %6==0 base key space
            o.where(F.col("o_orderkey") % 6 == 3).select(
                (F.col("o_orderkey") + 1).alias("o_orderkey"),
                "o_orderpriority",
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    w.upsert_by_key(spark, batch, key_cols=["o_orderkey"])
    t = IcebergTable(base)
    kept = sorted(u for _p, u, _s in t._files(None)[0])
    assert set(files_before) <= set(kept), (
        "upsert must touch zero existing data files"
    )
    return t.snapshot(spark).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(
            F.sum(F.col("price").cast("decimal(18,4)")).cast("double"),
        ).alias("total"),
    )


@register(
    "sink_iceberg_v3_update",
    # The v3 lineage-safe mutation stack end-to-end: CTAS the o%9==0
    # orders subset, upgrade 2 -> 3, DELETE (Puffin deletion vector),
    # UPDATE (DV preimages + postimages with preserved _row_id). The
    # oracle recomputes the final content from the fixture; the
    # structural asserts pin that neither mutation rewrote a data file
    # and that the update's postimages carry materialized row ids.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM (
        SELECT o_orderpriority,
               CASE WHEN o_orderstatus = 'F'
                    THEN o_totalprice + 500 ELSE o_totalprice END
                 AS price
        FROM orders
        WHERE o_orderkey % 9 = 0 AND o_orderkey % 18 <> 0
    ) t
    GROUP BY o_orderpriority
    """,
)
def sink_iceberg_v3_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format-version 3 mutations with ROW LINEAGE (round 14):
    after ``upgrade_format_version(3)``, DELETE lands a deletion
    vector and UPDATE deletion-vectors its preimages while staging
    postimages that KEEP their ``_row_id`` (materialized with the
    spec's reserved field ids) — zero data-file rewrites across both
    mutations, O(changed rows) committed. The scan applies the merged
    vectors and never surfaces the reserved lineage columns."""
    import shutil

    from algebraicdb_spark.operators.iceberg import IcebergTable
    from algebraicdb_spark.operators.iceberg_writer import (
        IcebergTableWriter,
    )

    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    )
    base = _scratch("iceberg_v3_upd", sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    w = IcebergTableWriter(base)
    w.append(o.where(F.col("o_orderkey") % 9 == 0))
    w.upgrade_format_version(3)
    files_before = sorted(
        u for _p, u, _s in IcebergTable(base)._files(None)[0]
    )
    w.delete(spark, "o_orderkey % 18 = 0")
    w.update(spark, {"price": "price + 500"}, "o_orderstatus = 'F'")
    t = IcebergTable(base)
    kept = sorted(u for _p, u, _s in t._files(None)[0])
    assert set(files_before) <= set(kept), (
        "v3 mutations must be merge-on-read: no data file rewritten"
    )
    assert t._files(None)[3], "the mutations must have committed DVs"
    snap = t.snapshot(spark)
    assert "_row_id" not in snap.columns, (
        "reserved lineage columns must stay hidden"
    )
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(
            F.sum(F.col("price").cast("decimal(18,4)")).cast("double"),
        ).alias("total"),
    )


@register(
    "sink_delta_constraints",
    # Writer-side invariants end-to-end: a CHECK constraint declared
    # via ALTER ADD CONSTRAINT (existing rows validated first), a
    # violating append REFUSED with nothing leaked, a conforming
    # append landing, and a COW UPDATE whose postimages re-probe the
    # rule. The oracle recomputes the surviving content.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 14 = 7 THEN o_totalprice + 1
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 = 0
    ) t
    GROUP BY o_orderpriority
    """,
)
def sink_delta_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHECK-constraint enforcement (round 14): the writer
    probes every declared ``delta.constraints.*`` expression over the
    rows a commit would land — one limit(1) pass, FALSE violates /
    null satisfies — and refuses BEFORE any action publishes; ALTER
    ADD CONSTRAINT validates the table's existing rows first. The
    structural asserts pin a refused violating append (content
    unchanged) and a refused constraint-add over violating content."""
    import shutil

    from algebraicdb_spark.operators.delta_writer import DeltaTableWriter

    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    )
    base = _scratch("delta_constraints", sf_dir)
    if os.path.isdir(base):
        shutil.rmtree(base)
    w = DeltaTableWriter(base)
    w.append(o.where(F.col("o_orderkey") % 7 == 0))
    # adding a rule the content violates refuses (validation-first)
    try:
        w.set_properties(
            {"delta.constraints.absurd": "price > 1e12"}, spark=spark)
        raise AssertionError("constraint over violating rows must refuse")
    except ValueError:
        pass
    w.set_properties({"delta.constraints.price_pos": "price > 0"},
                     spark=spark)
    before = DeltaLogTable(base).snapshot(spark).count()
    try:
        w.append(o.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "price", F.lit(-1.0)))
        raise AssertionError("violating append must refuse")
    except ValueError:
        pass
    assert DeltaLogTable(base).snapshot(spark).count() == before, (
        "refused append must leak nothing"
    )
    # a conforming UPDATE re-probes the rule on its postimages
    w.update(spark, {"price": "price + 1"}, "o_orderkey % 14 = 7")
    return DeltaLogTable(base).snapshot(spark).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(
            F.sum(F.col("price").cast("decimal(18,4)")).cast("double"),
        ).alias("total"),
    )
