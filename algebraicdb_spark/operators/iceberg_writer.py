"""Apache Iceberg v2/v3 WRITER, so the engine can write the second
standard format it reads. ``IcebergTableWriter`` emits real table
metadata per the public spec (https://iceberg.apache.org/spec/):

- parquet data files under ``<table>/data/``;
- one manifest Avro per commit (entry status ADDED, explicit data
  sequence numbers — no inheritance ambiguity in our own output);
- one manifest LIST Avro per snapshot, carrying the prior snapshot's
  manifests forward verbatim (each Iceberg snapshot's manifest tree is
  a COMPLETE description of the snapshot — this is the structural
  difference from Delta's log fold, and why time travel reads a
  different manifest list instead of a shorter prefix);
- a new ``v<N>.metadata.json`` with the v2 required fields (schemas
  with field ids, partition-specs, sort-orders, last-sequence-number,
  snapshot chain with parent ids, snapshot-log/metadata-log) published
  CREATE-EXCLUSIVELY — two racers targeting the same metadata version
  get exactly one winner. This is the commit primitive both writers
  share, ``txnlog.publish_exclusive``, and a lost race reruns the
  commit through the shared ``txnlog.retry_commit`` (real catalogs
  arbitrate this swap, the same deployment seam);
- ``version-hint.text`` swung atomically for hint-based readers.

``AvroFileWriter`` is the write side of ``AvroFileReader`` — a
schema-driven encoder over the same Avro 1.11 object-container spec
(header magic, file-metadata map with embedded writer schema, sync
markers, zigzag varints). Proof of interop stays structural:
round-trip tests read this writer's output back through
``IcebergTable`` — the reader built and validated against hand-written
fixtures, never against this writer — so agreement is evidence both
speak the spec, not that they share bugs.

Scope: full nested schemas — struct/list/map columns get spec field
ids (element/key/value ids included), stamped into each parquet file's
footer as real field_id metadata. Appends (identity-partitioned or
transform-partitioned), row mutations, keyed equality-delete upserts,
compaction, and snapshot maintenance all publish real snapshots;
schema EVOLUTION stays the owning system's job. Row-level DELETE /
UPDATE / MERGE run the verb bodies of ``operators.mutation``, shared
with the Delta writer, over this format's ``_Target``; this module
keeps the Iceberg encoders (a manifest rewrite, a position-delete
file, or a v3 deletion vector — ``_how`` picks one from the table's
format version and ``write.<op>.mode``), the partition spec, v3 row
lineage, equality deletes, and a retry loop that re-plans every
attempt on the new head. Scale shape: like every Iceberg client —
data files land via one distributed Spark write, metadata is O(files
in the commit) KB-sized driver-side Avro/JSON.
"""
from __future__ import annotations

import contextlib
import json
import os
import re
import struct
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from algebraicdb_spark.operators import mutation
from algebraicdb_spark.operators.iceberg import (
    AvroFileReader,
    IcebergTable,
    _spark_schema,
)
from algebraicdb_spark.operators.txnlog import (
    ConcurrentWriteError,
    Staged,
    footer_rows,
    publish_exclusive,
    retry_commit,
    stage,
)

_MAGIC = b"Obj\x01"
_SYNC = b"algebraicdbspark"  # any 16 bytes; stable aids diffing


def _zig(n: int) -> bytes:
    """Zigzag + varint — Avro's int/long wire form (encode twin of
    ``_Bin.long``)."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(value: Any, schema: Any, names: dict[str, Any]) -> bytes:
    """Encode one value of ``schema`` — the mirror of iceberg._decode,
    same schema walk, same union/array/map block framing."""
    if isinstance(schema, str):
        t = schema
        if t in names:
            return _encode(value, names[t], names)
        if t == "null":
            return b""
        if t == "boolean":
            return b"\x01" if value else b"\x00"
        if t in ("int", "long"):
            return _zig(int(value))
        if t == "float":
            return struct.pack("<f", float(value))
        if t == "double":
            return struct.pack("<d", float(value))
        if t == "bytes":
            return _zig(len(value)) + bytes(value)
        if t == "string":
            b = str(value).encode("utf-8")
            return _zig(len(b)) + b
        raise ValueError(f"unknown avro type {t!r}")
    if isinstance(schema, list):  # union: pick the branch by value
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                return _zig(i)
            if value is not None and bt != "null":
                return _zig(i) + _encode(value, branch, names)
        raise ValueError(f"no union branch for {value!r} in {schema}")
    t = schema["type"]
    if t == "record":
        if "name" in schema:
            names[schema["name"]] = schema
        return b"".join(
            _encode((value or {}).get(f["name"]), f["type"], names)
            for f in schema["fields"]
        )
    if t == "array":
        items = list(value or [])
        if not items:
            return _zig(0)
        return (
            _zig(len(items))
            + b"".join(_encode(v, schema["items"], names) for v in items)
            + _zig(0)
        )
    if t == "map":
        kv = dict(value or {})
        if not kv:
            return _zig(0)
        out = _zig(len(kv))
        for k, v in kv.items():
            kb = str(k).encode("utf-8")
            out += _zig(len(kb)) + kb + _encode(v, schema["values"], names)
        return out + _zig(0)
    return _encode(value, t, names)  # annotated primitive / logical type


class AvroFileWriter:
    """Write records as a one-block Avro object container (null codec)
    under an explicit writer schema."""

    @staticmethod
    def write(path: str, schema: dict, records: list[dict]) -> None:
        payload = b"".join(_encode(r, schema, {}) for r in records)
        meta = (
            _zig(2)
            + _zig(len(b"avro.schema")) + b"avro.schema"
            + (lambda b: _zig(len(b)) + b)(json.dumps(schema).encode())
            + _zig(len(b"avro.codec")) + b"avro.codec"
            + _zig(4) + b"null"
            + _zig(0)
        )
        doc = (
            _MAGIC + meta + _SYNC
            + _zig(len(records)) + _zig(len(payload)) + payload + _SYNC
        )
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(doc)
        os.replace(tmp, path)


# Spark simpleString → Iceberg primitive type names. Sub-int widths
# widen to iceberg int — the narrowest type the spec has.
_TYPE_MAP = {
    "boolean": "boolean",
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _iceberg_type(dt, alloc, where: str):
    """One Spark DataType → the spec's JSON type, allocating field ids
    for NESTED positions (struct fields, list elements, map keys and
    values each own an id per spec §Schemas) in pre-order — a field's
    id precedes its children's, matching how the Java implementation
    assigns fresh ids. Round 12: this lifted the writer's
    flat-primitive refusal so the engine's own ``embeddings``
    (array<float>) and ADT struct columns can land in its lakehouse
    format."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = alloc()
            fields.append({
                "id": fid, "name": f.name, "required": False,
                "type": _iceberg_type(
                    f.dataType, alloc, f"{where}.{f.name}"
                ),
            })
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(
                dt.elementType, alloc, f"{where}.element"
            ),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid = alloc()
        key = _iceberg_type(dt.keyType, alloc, f"{where}.key")
        vid = alloc()
        val = _iceberg_type(dt.valueType, alloc, f"{where}.value")
        return {
            "type": "map",
            "key-id": kid, "key": key,
            "value-id": vid, "value": val,
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    s = dt.simpleString()
    if s in _TYPE_MAP:
        return _TYPE_MAP[s]
    raise NotImplementedError(
        f"iceberg write: {where} has type {s} — no spec mapping in "
        "this writer (interval/variant/udt need a full Iceberg client)"
    )


def _iceberg_fields(df: DataFrame) -> list[dict]:
    """The batch's schema as the spec's field list, nested types
    included, ids assigned 1..n pre-order (only the table-CREATING
    commit uses these ids; appends to an existing table resolve ids
    from its current schema)."""
    counter = [0]

    def alloc() -> int:
        counter[0] += 1
        return counter[0]

    return _iceberg_type(df.schema, alloc, "<root>")["fields"]


def _max_field_id(fields: list[dict]) -> int:
    """The highest field id anywhere in the tree — what the metadata's
    ``last-column-id`` must cover (a nested id above a too-small
    last-column-id would collide with the next evolution's fresh ids)."""
    best = 0

    def walk(t) -> None:
        nonlocal best
        if not isinstance(t, dict):
            return
        k = t.get("type")
        if k == "struct":
            for f in t.get("fields", []):
                best = max(best, int(f["id"]))
                walk(f["type"])
        elif k == "list":
            best = max(best, int(t.get("element-id", 0)))
            walk(t.get("element"))
        elif k == "map":
            best = max(best, int(t.get("key-id", 0)),
                       int(t.get("value-id", 0)))
            walk(t.get("key"))
            walk(t.get("value"))

    walk({"type": "struct",
          "fields": [{"id": f["id"], "type": f["type"]} for f in fields]})
    return best


def _type_key(t):
    """A canonical, id-free fingerprint of an iceberg type — what the
    schema gate compares: two schemas match when every (name, shape)
    agrees, regardless of the field ids a foreign client assigned or
    JSON key order."""
    if isinstance(t, str):
        return t.replace(" ", "")
    k = t.get("type")
    if k == "struct":
        return ("struct", tuple(
            (f["name"], _type_key(f["type"]))
            for f in t.get("fields", [])
        ))
    if k == "list":
        return ("list", _type_key(t.get("element")))
    if k == "map":
        return ("map", _type_key(t.get("key")), _type_key(t.get("value")))
    return json.dumps(t, sort_keys=True)


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 — the spec's REQUIRED hash for the bucket
    partition transform (Appendix B: 32-bit Hash Requirements),
    implemented from the public algorithm. Returns the SIGNED 32-bit
    value the spec's test vectors are stated in; bucketing masks the
    sign bit afterwards. Pure Python so the transform needs no native
    lib; the per-value cost is trivial next to the parquet write it
    rides, and at cluster scale the Spark-Iceberg datasource computes
    this JVM-side anyway."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    mask = 0xFFFFFFFF
    h = seed & mask
    n = len(data)

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & mask
        k = rotl(k, 15)
        k = (k * c2) & mask
        h ^= k
        h = rotl(h, 13)
        h = (h * 5 + 0xE6546B64) & mask
    tail = data[n - n % 4:]
    k1 = 0
    if len(tail) >= 3:
        k1 ^= tail[2] << 16
    if len(tail) >= 2:
        k1 ^= tail[1] << 8
    if len(tail) >= 1:
        k1 ^= tail[0]
        k1 = (k1 * c1) & mask
        k1 = rotl(k1, 15)
        k1 = (k1 * c2) & mask
        h ^= k1
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _bucket_bytes(v, ice_type: str) -> bytes | None:
    """The spec's byte layout hashed per type (Appendix B): int/long/
    date hash as the 8-byte little-endian LONG (so int 34 and long 34
    bucket together — a spec requirement), strings as UTF-8,
    timestamps as microseconds-long, binary raw. None = cannot
    serialize (the caller refuses the transform for that type)."""
    import datetime

    if v is None:
        return None
    if ice_type in ("int", "long"):
        return struct.pack("<q", int(v))
    if ice_type == "date":
        if isinstance(v, datetime.date):
            v = (v - datetime.date(1970, 1, 1)).days
        return struct.pack("<q", int(v))
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, datetime.datetime):
            # the epoch INSTANT — building it with the value's own
            # tzinfo would shift micros by the UTC offset (a +05:00
            # value would hash 5h wrong); timedelta floor-division
            # keeps pre-epoch values exact
            epoch = datetime.datetime(
                1970, 1, 1,
                tzinfo=datetime.timezone.utc if v.tzinfo else None,
            )
            v = (v - epoch) // datetime.timedelta(microseconds=1)
        return struct.pack("<q", int(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "binary":
        return bytes(v)
    return None


def bucket_value(v, ice_type: str, n: int) -> int | None:
    """The spec's bucket transform: (murmur3(layout) & Int.MAX) % N."""
    b = _bucket_bytes(v, ice_type)
    if b is None:
        return None
    return (murmur3_32(b) & 0x7FFFFFFF) % int(n)


# transforms this writer can EVALUATE (append staging + manifest
# partition values) and the reader can PRUNE on. Temporal transforms
# are scoped to the types whose calendar fields are timezone-free
# here: year/month/day over DATE columns, hour over TIMESTAMP —
# applying year() to a session-timezone-rendered instant would write
# values that disagree with every UTC-normalizing client.
_TEMPORAL_SRC = {"year": ("date",), "month": ("date",),
                 "day": ("date",), "hour": ("timestamptz", "timestamp")}


_PART_FN_RE = re.compile(
    r"^\s*(?P<fn>[A-Za-z_]\w*)\s*\(\s*(?P<args>[^()]*)\s*\)\s*$"
)
_BUCKET_T_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNC_T_RE = re.compile(r"^truncate\[(\d+)\]$")

# identity partition sources whose values this writer serializes into
# the manifest partition record / parses back from staging dirs
_IDENTITY_SRC = {"int", "long", "string", "boolean"}
_BUCKET_SRC = {"int", "long", "date", "string", "timestamp",
               "timestamptz", "binary"}


def _parse_partition_by(items: list[str], by_name: dict) -> list[dict]:
    """User ``partition_by`` strings → spec-field dicts
    {name, transform, source, source_type, vtype}: plain column names
    are identity; ``day(col)`` / ``month(col)`` / ``year(col)`` /
    ``hour(col)`` (plurals accepted) are the spec's temporal
    transforms; ``bucket(N, col)`` and ``truncate(W, col)`` the
    width-parameterized ones. Field names follow the Java
    implementation's defaults (<col>_day, <col>_bucket, <col>_trunc)."""
    out = []
    for raw in items:
        m = _PART_FN_RE.match(raw)
        if m is None:
            c = raw.strip()
            if c not in by_name:
                raise ValueError(
                    f"iceberg append: partition column {c!r} is not "
                    f"in the batch schema {sorted(by_name)}"
                )
            st = str(by_name[c]["type"])
            if st not in _IDENTITY_SRC:
                raise NotImplementedError(
                    f"iceberg append: partition column {c!r} has type "
                    f"{st} — identity partition values serialize for "
                    f"{sorted(_IDENTITY_SRC)} only"
                )
            out.append({"name": c, "transform": "identity",
                        "source": c, "source_type": st, "vtype": st})
            continue
        fn = m.group("fn").lower().rstrip("s")
        args = [a.strip() for a in m.group("args").split(",") if a.strip()]
        if fn in ("year", "month", "day", "hour"):
            if len(args) != 1:
                raise ValueError(
                    f"iceberg append: {raw!r} — temporal transforms "
                    "take exactly one column"
                )
            c = args[0]
            if c not in by_name:
                raise ValueError(
                    f"iceberg append: partition source {c!r} is not "
                    f"in the batch schema {sorted(by_name)}"
                )
            st = str(by_name[c]["type"])
            if st not in _TEMPORAL_SRC[fn]:
                raise NotImplementedError(
                    f"iceberg append: {fn}({c}) over type {st} — this "
                    f"writer evaluates {fn} over "
                    f"{_TEMPORAL_SRC[fn]} only (session-timezone "
                    "calendar fields would disagree with "
                    "UTC-normalizing clients)"
                )
            out.append({"name": f"{c}_{fn}", "transform": fn,
                        "source": c, "source_type": st, "vtype": "int"})
            continue
        if fn in ("bucket", "truncate"):
            if len(args) != 2 or not args[0].isdigit():
                raise ValueError(
                    f"iceberg append: {raw!r} — expected "
                    f"{fn}(<width>, <column>)"
                )
            width, c = int(args[0]), args[1]
            if width <= 0:
                raise ValueError(
                    f"iceberg append: {raw!r} — width must be positive"
                )
            if c not in by_name:
                raise ValueError(
                    f"iceberg append: partition source {c!r} is not "
                    f"in the batch schema {sorted(by_name)}"
                )
            st = str(by_name[c]["type"])
            if fn == "bucket":
                if st not in _BUCKET_SRC:
                    raise NotImplementedError(
                        f"iceberg append: bucket({width}, {c}) over "
                        f"type {st} — the spec hash layouts here "
                        f"cover {sorted(_BUCKET_SRC)}"
                    )
                out.append({
                    "name": f"{c}_bucket",
                    "transform": f"bucket[{width}]",
                    "source": c, "source_type": st, "vtype": "int",
                })
            else:
                if st not in ("int", "long", "string"):
                    raise NotImplementedError(
                        f"iceberg append: truncate({width}, {c}) over "
                        f"type {st} — int/long/string only (decimal "
                        "truncate needs unscaled-value arithmetic)"
                    )
                out.append({
                    "name": f"{c}_trunc",
                    "transform": f"truncate[{width}]",
                    "source": c, "source_type": st, "vtype": st,
                })
            continue
        raise NotImplementedError(
            f"iceberg append: partition transform {raw!r} — identity, "
            "year/month/day/hour, bucket(N, col), truncate(W, col)"
        )
    return out


def _bucket_udf(n: int, ice_type: str):
    """Arrow-batched evaluation of the spec's bucket transform for the
    staging split — executor-side, vectorized transfer; the per-value
    Python hash is trivial next to the parquet write it rides."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def bkt(s):
        return s.map(
            lambda v: None if v is None else bucket_value(v, ice_type, n)
        )

    return bkt


def _transform_col(sf: dict):
    """The Spark column computing one spec field's partition VALUE —
    JVM-side expressions for everything except bucket (whose murmur3
    layout has no builtin twin and rides an Arrow-batched UDF)."""
    from pyspark.sql import functions as F

    src = F.col(sf["source"])
    t = sf["transform"]
    if t == "identity":
        return src
    if t == "void":
        return F.lit(None).cast("int")
    if t == "year":
        return (F.year(src) - F.lit(1970)).cast("int")
    if t == "month":
        return (
            (F.year(src) - F.lit(1970)) * F.lit(12)
            + F.month(src) - F.lit(1)
        ).cast("int")
    if t == "day":
        return F.datediff(src, F.to_date(F.lit("1970-01-01"))).cast("int")
    if t == "hour":
        # timestamps are instants: the double cast is timezone-free
        # FRACTIONAL epoch seconds, and floor keeps pre-epoch
        # sub-second values exact (unix_timestamp truncates toward
        # zero first, which would disagree with the spec's floorDiv
        # for instants like 1969-12-31 23:59:59.5)
        return F.floor(src.cast("double") / F.lit(3600)).cast("int")
    m = _BUCKET_T_RE.match(t)
    if m:
        return _bucket_udf(int(m.group(1)), sf["source_type"])(src)
    m = _TRUNC_T_RE.match(t)
    if m:
        w = int(m.group(1))
        if sf["source_type"] == "string":
            return F.substring(src, 1, w)
        # iceberg truncate: v - (v mod W) with FLOORED mod (pmod)
        out = src - F.pmod(src, F.lit(w))
        return out.cast("int" if sf["source_type"] == "int" else "long")
    raise NotImplementedError(
        f"iceberg: partition transform {t!r} has no evaluator here"
    )


# The spec's RESERVED field ids for position-delete file columns —
# every conformant writer stamps exactly these
_POS_DELETE_FIELDS = [
    {"id": 2147483546, "name": "file_path", "type": "string"},
    {"id": 2147483545, "name": "pos", "type": "long"},
]

# format-version 3 row-lineage metadata columns, materialized into
# rewritten data files so every surviving row KEEPS its identity
# across compaction/update (spec "Row Lineage": reserved field ids
# 2147483540 `_row_id`, 2147483539 `_last_updated_sequence_number`;
# null materialized values inherit first_row_id + ordinal / the
# file's data sequence number)
_LINEAGE_FIELDS = [
    {"id": 2147483540, "name": "_row_id", "type": "long"},
    {"id": 2147483539, "name": "_last_updated_sequence_number",
     "type": "long"},
]


def _with_id_field(af, ice_type, fid: int | None):
    """One arrow field re-built with its iceberg id as the
    ``PARQUET:field_id`` metadata pyarrow writes into the footer's
    SchemaElement.field_id — recursing into struct children, list
    elements, and map key/value so NESTED ids land too."""
    import pyarrow as pa

    meta = dict(af.metadata or {})
    if fid is not None:
        meta[b"PARQUET:field_id"] = str(int(fid)).encode()
    return pa.field(
        af.name, _with_id_type(af.type, ice_type), af.nullable,
        metadata=meta or None,
    )


def _with_id_type(at, ice_type):
    import pyarrow as pa

    ice = ice_type if isinstance(ice_type, dict) else {}
    if pa.types.is_struct(at) and ice.get("type") == "struct":
        by = {f["name"]: f for f in ice.get("fields", [])}
        return pa.struct([
            _with_id_field(
                at.field(i),
                (by.get(at.field(i).name) or {}).get("type"),
                (by.get(at.field(i).name) or {}).get("id"),
            )
            for i in range(at.num_fields)
        ])
    if (pa.types.is_list(at) or pa.types.is_large_list(at)) and (
        ice.get("type") == "list"
    ):
        el = _with_id_field(
            at.value_field, ice.get("element"), ice.get("element-id")
        )
        return pa.list_(el) if pa.types.is_list(at) else pa.large_list(el)
    if pa.types.is_map(at) and ice.get("type") == "map":
        return pa.map_(
            _with_id_field(at.key_field, ice.get("key"),
                           ice.get("key-id")),
            _with_id_field(at.item_field, ice.get("value"),
                           ice.get("value-id")),
        )
    if pa.types.is_timestamp(at) and ice_type in ("timestamp", "timestamptz"):
        # the spec stores timestamps as microseconds, UTC-adjusted for
        # timestamptz; Spark's INT96 columns read back as naive
        # timestamp[ns] and would otherwise be rewritten as INT64
        # nanoseconds, which Spark's parquet reader refuses
        return pa.timestamp("us", tz="UTC" if ice_type == "timestamptz"
                            else None)
    return at


def _stamp_field_ids(paths: list[str], fields: list[dict]) -> None:
    """Rewrite each staged parquet file with the table's iceberg
    field ids in the schema metadata — how spec-conformant readers
    resolve columns after renames (name matching breaks the moment a
    column is renamed; ids never do). Threaded per file (pyarrow
    releases the GIL for parquet IO). Deployment seam: at cluster
    scale the ids ride the DISTRIBUTED write itself — the Spark-
    Iceberg integration attaches them in the datasource writer — so
    this per-file local pass is the single-JVM stand-in for an
    executor-side step, not a driver bottleneck by design."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    by = {f["name"]: f for f in fields}

    def stamp(path: str) -> None:
        t = pq.read_table(path)
        new = pa.schema(
            [
                _with_id_field(
                    af,
                    (by.get(af.name) or {}).get("type"),
                    (by.get(af.name) or {}).get("id"),
                )
                for af in t.schema
            ],
            metadata=t.schema.metadata,
        )
        tmp = path + ".ids.tmp"
        pq.write_table(t.cast(new), tmp, compression="snappy")
        os.replace(tmp, path)

    if len(paths) == 1:
        stamp(paths[0])
        return
    with ThreadPoolExecutor(max_workers=min(8, len(paths))) as ex:
        list(ex.map(stamp, paths))


# iceberg partition-value types this writer can serialize into the
# manifest's partition record (identity transforms; avro primitive per
# the spec's avro mapping). Anything else refuses loudly.
_PART_AVRO = {"int": "int", "long": "long", "string": "string",
              "boolean": "boolean"}


def _manifest_schema(part_fields: list[dict], fv: int = 2) -> dict:
    """The v2 manifest-entry schema with the TABLE's partition record
    (``r102``) — empty for unpartitioned tables, one nullable field
    per identity partition column otherwise (each manifest embeds its
    own writer schema, so per-table shapes interop fine). ``fv >= 3``
    widens ``data_file`` with the v3 fields this writer emits: row
    lineage (``first_row_id``, spec field 142) and the deletion-vector
    address (``referenced_data_file`` / ``content_offset`` /
    ``content_size_in_bytes``, fields 143-145)."""
    import copy

    schema = copy.deepcopy(_MANIFEST_SCHEMA)
    rec = schema["fields"][4]["type"]["fields"][3]["type"]
    rec["fields"] = [
        {"name": f["name"], "type": ["null", _PART_AVRO[str(f["type"])]]}
        for f in part_fields
    ]
    if fv >= 3:
        schema["fields"][4]["type"]["fields"] += [
            {"name": "first_row_id", "type": ["null", "long"]},
            {"name": "referenced_data_file", "type": ["null", "string"]},
            {"name": "content_offset", "type": ["null", "long"]},
            {"name": "content_size_in_bytes", "type": ["null", "long"]},
        ]
    return schema


def _ml_schema(fv: int = 2) -> dict:
    """The manifest-list schema; ``fv >= 3`` appends the nullable
    ``first_row_id`` row-lineage field (spec field 520)."""
    import copy

    if fv < 3:
        return _MANIFEST_LIST_SCHEMA
    schema = copy.deepcopy(_MANIFEST_LIST_SCHEMA)
    schema["fields"].append(
        {"name": "first_row_id", "type": ["null", "long"]}
    )
    return schema


def _bound_map_type(name: str) -> dict:
    """The spec's Avro shape for lower/upper bounds: a map with
    NON-STRING keys serializes as an array of key/value records
    (Avro maps key on strings only), annotated logicalType map —
    exactly what the fixture-validated reader's ``as_pairs`` walks."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "bytes"},
            ],
        },
        "logicalType": "map",
    }


# v2 manifest-entry schema: the spec's required fields for an APPEND
# (data_file.partition is the unpartitioned spec's empty struct),
# plus the OPTIONAL per-column [min, max] bounds every Iceberg client
# data-skips on (round 11 second half — written from the parquet
# footers, O(KB) per file, nothing re-scanned)
_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "file_sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition",
                     "type": {"type": "record", "name": "r102",
                              "fields": []}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds",
                     "type": ["null", _bound_map_type("k126_v127")],
                     "default": None},
                    {"name": "upper_bounds",
                     "type": ["null", _bound_map_type("k128_v129")],
                     "default": None},
                    {"name": "equality_ids",
                     "type": ["null",
                              {"type": "array", "items": "int"}],
                     "default": None},
                ],
            },
        },
    ],
}


def _encode_bound(t: str, v) -> bytes | None:
    """Iceberg's single-value binary serialization — the ENCODE twin
    of ``IcebergTable._decode_bound`` (the decode side is validated
    against hand-written fixtures, so round-tripping through it is
    evidence both speak the spec). Types without an exact, total
    encoding here return None — an absent bound means "cannot prune",
    never "prune wrongly"."""
    import datetime

    t = str(t)
    try:
        if t == "int":
            return struct.pack("<i", int(v))
        if t == "date":
            if isinstance(v, datetime.date):
                v = (v - datetime.date(1970, 1, 1)).days
            return struct.pack("<i", int(v))
        if t == "long":
            return struct.pack("<q", int(v))
        if t == "float":
            return struct.pack("<f", float(v))
        if t == "double":
            return struct.pack("<d", float(v))
        if t == "string":
            return str(v).encode("utf-8")
        if t == "boolean":
            return b"\x01" if v else b"\x00"
    except (TypeError, ValueError, OverflowError, struct.error):
        return None
    return None  # decimals/timestamps/uuid/binary: skip, never guess


def _bound_rows(
    stats: dict[str, tuple], fields: list[dict]
) -> tuple[list[dict] | None, list[dict] | None]:
    """(lower_bounds, upper_bounds) for one staged file, as the
    manifest's [{key: field-id, value: encoded}] rows, from its footer
    fold (``footer_stats`` — parquet semantics guarantee min ≤ all
    values ≤ max even when a writer truncates, so carrying them as
    Iceberg bounds is always safe). Columns without bounds and types
    ``_encode_bound`` skips are omitted."""
    by_name = {f["name"]: f for f in fields}
    lower: list[dict] = []
    upper: list[dict] = []
    for name in sorted(n for n in stats if n in by_name):
        f = by_name[name]
        lo, hi, _nulls = stats[name]
        lo_b = None if lo is None else _encode_bound(f["type"], lo)
        hi_b = None if hi is None else _encode_bound(f["type"], hi)
        if lo_b is None or hi_b is None:
            continue
        lower.append({"key": int(f["id"]), "value": lo_b})
        upper.append({"key": int(f["id"]), "value": hi_b})
    return (lower or None), (upper or None)


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}


@dataclass
class _Draft:
    """The snapshot a commit is building: its sequence number and id,
    the v3 row-id cursor (None below v3; each ADDED data file takes
    its range from here) and every file the attempt wrote — unlinked
    when the publish loses."""

    seq: int
    id: int
    next_row: int | None
    written: list[str] = field(default_factory=list)


# the retry-loop label per encoder
_RETRY_NAME = {"cow": "iceberg", "mor": "iceberg mor", "dv": "iceberg v3 dv"}
_RECORDS = {"delete": "deleted-records", "update": "updated-records",
            "merge": "merged-records"}


@dataclass
class _Target:
    """One row-level mutation attempt on an Iceberg table: the
    ``mutation.Target`` the shared verb bodies run over, pinned at
    metadata version ``base_v`` with its encoder ``how`` (``cow``,
    ``mor`` or ``dv``) and the live sets ``_target`` gated: data
    entries (resolved path, recorded uri, data sequence number), live
    delete files and vectors, the default partition spec and the live
    vectors' positions by data-file uri. It records what the attempt
    stages (``staged``, ``deletes``) and will publish (``new_dvs``)."""

    w: IcebergTableWriter
    spark: SparkSession
    how: str
    base_v: int
    cur: dict
    rdr: IcebergTable
    data: list[tuple[str, str, int | None]]
    pos_d: list[str] = field(default_factory=list)
    eq_d: list[tuple[str, int, tuple[int, ...]]] = field(
        default_factory=list)
    dvs: list[tuple[str, str | None, int | None, int | None]] = field(
        default_factory=list)
    spec_parts: list[dict] = field(default_factory=list)
    old_dv: dict[str, list[int]] = field(default_factory=dict)
    staged: list = field(default_factory=list)
    deletes: list = field(default_factory=list)
    new_dvs: dict[str, list[int]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.positions = self.how != "cow"
        # the probe's ``__lp``: the resolved path of a plain parquet
        # scan, or the recorded uri of the row-identity scan
        key = 1 if self.positions else 0
        self.live = {d[key]: d[key] for d in self.data}
        self.columns = [f["name"] for f in self.w._cur_fields(self.cur)]

    def scan(self, files: list[str] | None = None, probe: bool = False,
             restage: bool = False) -> DataFrame:
        """Copy-on-write tables carry no delete files (``_cow_scope``
        gates that), so their files read as plain parquet. The
        delete-file encoders read the reader's row-identity scan,
        every tier of existing deletes applied (a deleted row must
        never rematch): ``__lp`` is the data file as its manifest
        records it, and ``restage`` on v3 materializes row lineage."""
        from pyspark.sql import functions as F

        if not self.positions:
            df = self.spark.read.parquet(
                *(files if files is not None
                  else [p for p, _u, _s in self.data]))
            if not probe:
                return df
            return df.withColumn(
                mutation.FILE,
                mutation.local_path(F.col("_metadata.file_path")),
            )
        data = self.data if files is None else [
            d for d in self.data if d[1] in set(files)]
        lineage = restage and self.how == "dv"
        return self.rdr._identity_scan(
            self.spark, data, self.pos_d, self.eq_d, self.old_dv,
            first_ids=self.rdr._first_row_ids(None) if lineage else None,
        ).withColumnRenamed("__uri", mutation.FILE)

    def live_rows(self, path: str) -> int:
        return footer_rows(path)

    def derive(self, frame: DataFrame) -> DataFrame:
        return frame

    def carry(self, prefix: str | None = None) -> dict:
        """A v3 postimage keeps its ``_row_id`` and a NULL
        ``_last_updated_sequence_number``, which inherits the new
        file's data sequence number — race-proof by construction.
        Rows of lineage-less pre-upgrade files inherit fresh ids."""
        from pyspark.sql import functions as F

        if self.how != "dv":
            return {}
        return {
            "_row_id": F.col(f"{prefix}._row_id" if prefix else "_row_id"),
            "_last_updated_sequence_number": F.lit(None).cast("long"),
        }

    def insert_fields(self, probe: DataFrame | None) -> list:
        schema = _spark_schema(self.w._cur_fields(self.cur))
        if schema is None:
            raise ValueError(
                "MERGE: the table schema cannot be mapped to "
                "Spark types, so the INSERT VALUES expressions "
                "have no column shape to project into — use a "
                "full Iceberg client"
            )
        return schema.fields

    def stage_rows(self, frame: DataFrame, check: bool = True) -> int:
        """Stage new data rows: copy-on-write restages under the
        default partition spec; v3 postimages carry their lineage
        columns under the reserved field ids."""
        fields = self.w._cur_fields(self.cur)
        if not self.positions:
            staged = self.w._stage(frame, ice_fields=fields,
                                   spec_parts=self.spec_parts or None)
        else:
            lineage = self.how == "dv" and "_row_id" in frame.columns
            staged = self.w._stage(
                frame,
                ice_fields=fields + (_LINEAGE_FIELDS if lineage else []))
        self.staged += staged
        return sum(s.rows for s in staged)

    def stage_positions(self, positions: DataFrame) -> int:
        """``mor`` stages one sorted standard POSITION-DELETE parquet
        file (the spec's file_path/pos columns and reserved field
        ids); ``dv`` collects the positions and unions each touched
        file's live vector with them (the spec's one-DV-per-file
        rule)."""
        from pyspark.sql import functions as F

        if self.how == "mor":
            self.deletes = self.w._stage(
                positions.select(
                    F.col(mutation.FILE).alias("file_path"),
                    F.col(mutation.POS).cast("long").alias("pos"),
                ).sort("file_path", "pos").coalesce(1),
                ice_fields=_POS_DELETE_FIELDS,
            )
            return sum(s.rows for s in self.deletes)
        touched = mutation.collect_positions(positions, self.live)
        self.new_dvs = {
            u: sorted(set(self.old_dv.get(u, [])) | set(ps))
            for u, ps in touched.items()
        }
        return sum(len(ps) for ps in touched.values())

    def commit(self, change: mutation.Change) -> int:
        """One snapshot: manifest surgery (``_publish_mutation``),
        position deletes + data (``_publish_mor``) or deletion vectors
        + data (``_publish_mor_dv``)."""
        operation = "delete" if change.verb == "delete" else "overwrite"
        if self.how == "dv" and change.verb == "merge":
            # the change feed labels a snapshot with updated records an
            # update: a deleting MERGE records none
            summary = {
                "updated-records": str(0 if change.deletes else change.rows),
                "deleted-records": str(change.rows if change.deletes else 0),
                "added-records": str(change.inserted),
            }
        else:
            summary = {_RECORDS[change.verb]: str(change.rows)}
            if self.positions:
                summary["added-delete-files"] = str(
                    self.encoded()["delete_files"])
        if self.how == "cow":
            return self.w._publish_mutation(
                self.base_v, self.cur, self.rdr, set(change.files),
                self.staged, operation, summary, spec_parts=self.spec_parts,
            )
        if self.how == "mor":
            return self.w._publish_mor(
                self.base_v, self.cur, self.rdr, self.deletes, self.staged,
                operation, summary,
            )
        return self.w._publish_mor_dv(
            self.base_v, self.cur, self.rdr, self.dvs, self.new_dvs,
            self.old_dv, summary, staged=self.staged, operation=operation,
        )

    def encoded(self) -> dict[str, int]:
        if self.deletes:
            return {"delete_files": len(self.deletes)}
        return {"delete_files": 1 if self.new_dvs else 0}

    def unstage(self) -> None:
        self.w._unstage(self.staged)
        self.w._unstage(self.deletes)


def _ml_row(
    mpath: str,
    draft: _Draft,
    spec_id: int,
    content: int = 0,
    added: tuple[int, int] = (0, 0),
    existing: tuple[int, int] = (0, 0),
    deleted: tuple[int, int] = (0, 0),
    min_seq: int | None = None,
    first_row_id: int | None = None,
) -> dict:
    """The manifest-list row for a manifest ``draft`` wrote: content
    0 for data manifests, 1 for any deletes; each count pair is
    (files, rows)."""
    return {
        "manifest_path": mpath,
        "manifest_length": os.path.getsize(mpath),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": draft.seq,
        "min_sequence_number": draft.seq if min_seq is None else min_seq,
        "added_snapshot_id": draft.id,
        "added_files_count": added[0],
        "existing_files_count": existing[0],
        "deleted_files_count": deleted[0],
        "added_rows_count": added[1],
        "existing_rows_count": existing[1],
        "deleted_rows_count": deleted[1],
        "first_row_id": first_row_id,
    }


class IcebergTableWriter:
    """Append parquet batches as real Iceberg v2 snapshots other
    engines consume; reads of our own output go back through
    ``IcebergTable`` (one reader for external and self-written tables
    — the round-trip the format exists for)."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- current state -----------------------------------------------------

    def _metadata_versions(self) -> list[int]:
        return sorted(
            int(f[1:].split(".", 1)[0])
            for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".metadata.json")
            and f[1:].split(".", 1)[0].isdigit()
        )

    def _current(self) -> tuple[int, dict | None]:
        vs = self._metadata_versions()
        if not vs:
            return 0, None
        with open(
            os.path.join(self.meta_dir, f"v{vs[-1]}.metadata.json")
        ) as f:
            return vs[-1], json.load(f)

    def exists(self) -> bool:
        """Whether the location already holds a committed table."""
        return self._current()[1] is not None

    def reader(self) -> IcebergTable:
        return IcebergTable(self.path)

    def snapshot(self, spark: SparkSession, snapshot_id: int | None = None):
        return self.reader().snapshot(spark, snapshot_id)

    def live_paths(self):
        return self.reader().live_paths()

    def table_schema(self):
        return self.reader().table_schema()

    # -- the append commit ---------------------------------------------------

    def _stage(
        self,
        df: DataFrame,
        ice_fields: list[dict] | None = None,
        spec_parts: list[dict] | None = None,
    ) -> list[Staged]:
        """Stage the batch through ``txnlog.stage`` as flat
        ``data/<uuid>.parquet`` files, each record's partition values
        typed per the spec. Partitioned: iceberg keeps the SOURCE
        columns in the data files (unlike hive/delta), so the split
        writes through computed ``__p_*`` columns — identity
        duplicates the source, transforms evaluate it
        (``_transform_col``: JVM expressions, bucket via an
        Arrow-batched UDF) — each output file holds exactly one
        partition tuple, the dirs carry the values for attribution,
        and the originals stay in the bytes. ``ice_fields`` stamps
        each file's parquet schema with those iceberg field ids
        (nested included) — see ``_stamp_field_ids`` — and the
        recorded size is the stamped file's."""
        spec_parts = spec_parts or []
        for sf in spec_parts:
            df = df.withColumn(f"__p_{sf['name']}", _transform_col(sf))
        staged = stage(
            df, [f"__p_{sf['name']}" for sf in spec_parts], self.data_dir,
            lambda _rel: os.path.join(
                self.data_dir, f"{uuid.uuid4().hex}.parquet"),
        )

        def typed(sf: dict, v: str | None):
            if v is None:
                return None
            t = sf["vtype"]
            if t in ("int", "long"):
                return int(v)
            if t == "boolean":
                return str(v).lower() == "true"
            return v

        staged = [s._replace(pv={
            sf["name"]: typed(sf, s.pv.get(f"__p_{sf['name']}"))
            for sf in spec_parts
        }) for s in staged]
        if ice_fields and staged:
            try:
                _stamp_field_ids([s.path for s in staged], ice_fields)
            except BaseException:
                self._unstage(staged)
                raise
            staged = [s._replace(size=os.path.getsize(s.path))
                      for s in staged]
        return staged

    def _unstage(self, staged: list[Staged]) -> None:
        for s in staged:
            if os.path.exists(s.path):
                os.unlink(s.path)

    @staticmethod
    def _as_bound_rows(v) -> list[dict] | None:
        """Normalize a DECODED bounds map back into the writer's
        [{key, value}] rows: the reader surfaces the array-of-records
        map as a list of dicts (or a plain dict from a foreign shape);
        values must be bytes. None/empty stays None."""
        if not v:
            return None
        if isinstance(v, dict):
            rows = [{"key": int(k), "value": bytes(val)}
                    for k, val in v.items()]
        else:
            rows = [
                {"key": int(e["key"]), "value": bytes(e["value"])}
                for e in v
                if isinstance(e, dict) and e.get("value") is not None
            ]
        return rows or None

    @staticmethod
    def _cur_fields(cur: dict) -> list[dict]:
        """The current schema's field dicts from a metadata doc."""
        schemas = cur.get("schemas") or (
            [cur["schema"]] if cur.get("schema") else []
        )
        sid = cur.get("current-schema-id", 0)
        sch = next(
            (s for s in schemas if s.get("schema-id", 0) == sid),
            schemas[-1] if schemas else {"fields": []},
        )
        return list(sch.get("fields") or [])

    @classmethod
    def _gate_schema(cls, cur_meta: dict, fields: list[dict]) -> None:
        """Appends must match the table schema exactly — this writer
        has no evolution story (loud > silently diverging field ids)."""
        have = [
            (f["name"], _type_key(f["type"]))
            for f in cls._cur_fields(cur_meta)
        ]
        want = [(f["name"], _type_key(f["type"])) for f in fields]
        if have != want:
            raise ValueError(
                f"iceberg append: batch schema {want} differs from the "
                f"table's {have} — this append-only writer does not "
                "evolve schemas; evolve with a full Iceberg client"
            )

    def _cur_spec(self, cur: dict | None) -> list[dict]:
        """The table's DEFAULT partition spec as this writer's
        spec-field dicts {name, transform, source, source_type,
        vtype} — transforms INCLUDED (round 12: appends evaluate
        year/month/day/hour, bucket[N], truncate[W]); a transform
        with no evaluator here, or a value type this writer cannot
        serialize into the manifest partition record, refuses."""
        if not cur:
            return []
        return self._spec_parts_of(cur, cur.get("default-spec-id", 0))

    def _spec_parts_of(self, cur: dict, spec_id: int) -> list[dict]:
        """Spec-field dicts for ONE spec by id — partition EVOLUTION
        (round 13) means rewritten manifests must keep their files'
        ORIGINAL spec, so the writer resolves any recorded spec, not
        just the default. A spec-id the metadata does not record
        refuses loudly: writing the carried partition records under an
        empty schema would silently DROP them (and every foreign
        planner's pruning with them)."""
        specs = cur.get("partition-specs") or []
        spec = next(
            (s for s in specs if s.get("spec-id") == spec_id),
            None,
        )
        if spec is None:
            if spec_id == cur.get("default-spec-id", 0) or not specs:
                # tables with no recorded specs at all (legacy /
                # unpartitioned metadata shapes) stay unpartitioned
                spec = {"fields": []}
            else:
                raise NotImplementedError(
                    f"{self.path}: manifest references partition "
                    f"spec-id {spec_id} which the metadata does not "
                    "record — rewriting its entries would drop their "
                    "partition records; use a full Iceberg client"
                )
        sfields = spec.get("fields") or []
        if not sfields:
            return []
        by_id = {
            f["id"]: f for f in self._cur_fields(cur)
        }
        out = []
        for f in sfields:
            t = str(f.get("transform"))
            src_f = by_id.get(f.get("source-id"))
            if src_f is None:
                raise NotImplementedError(
                    f"{self.path}: partition source-id "
                    f"{f.get('source-id')} is not a top-level column "
                    "— nested partition sources need a full Iceberg "
                    "client"
                )
            src = src_f["name"]
            st = str(src_f["type"])
            name = f.get("name") or src
            if t == "identity":
                if st not in _IDENTITY_SRC:
                    raise NotImplementedError(
                        f"{self.path}: identity partition column "
                        f"{src!r} has type {st} — values serialize "
                        f"for {sorted(_IDENTITY_SRC)} only"
                    )
                vt = st
            elif t in ("year", "month", "day", "hour"):
                if st not in _TEMPORAL_SRC[t]:
                    raise NotImplementedError(
                        f"{self.path}: partition transform {t} over "
                        f"type {st} — this writer evaluates {t} over "
                        f"{_TEMPORAL_SRC[t]} only"
                    )
                vt = "int"
            elif _BUCKET_T_RE.match(t):
                if st not in _BUCKET_SRC:
                    raise NotImplementedError(
                        f"{self.path}: {t} over type {st} — the spec "
                        f"hash layouts here cover {sorted(_BUCKET_SRC)}"
                    )
                vt = "int"
            elif _TRUNC_T_RE.match(t):
                if st not in ("int", "long", "string"):
                    raise NotImplementedError(
                        f"{self.path}: {t} over type {st} — int/long/"
                        "string only"
                    )
                vt = st
            elif t == "void":
                # the spec's always-null transform — what a dropped
                # v1 partition field becomes; every row lands under
                # the null partition value, any source type
                vt = "int"
            else:
                raise NotImplementedError(
                    f"{self.path}: partition transform {t!r} — this "
                    "writer evaluates identity, year/month/day/hour, "
                    "bucket[N], truncate[W]; use a full Iceberg client"
                )
            out.append({"name": name, "transform": t, "source": src,
                        "source_type": st, "vtype": vt})
        return out

    @staticmethod
    def _canon_spec(spec_parts: list[dict]) -> list[tuple[str, str]]:
        """What 'same partition spec' means for the pin/race checks:
        the (transform, source) sequence — field names and ids are
        presentation."""
        return [(f["transform"], f["source"]) for f in spec_parts]

    def append(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """One APPEND snapshot: stage data files, write manifest +
        manifest list (prior manifests carried forward verbatim),
        publish the next metadata.json create-exclusively, swing the
        version hint. Returns the new snapshot id.

        ``partition_by`` on the FIRST commit defines the table's
        partition spec — plain column names (identity) or the spec's
        transforms (``day(col)`` / ``month`` / ``year`` / ``hour``,
        ``bucket(N, col)``, ``truncate(W, col)``): each staged file
        holds one partition tuple, its typed TRANSFORM values land in
        the manifest entry's partition record (what foreign engines
        prune by) while the SOURCE columns stay in the data files
        (iceberg's model, unlike hive/delta). Later appends inherit
        the spec by default and refuse a differing explicit one — the
        spec is pinned."""
        fields = _iceberg_fields(df)
        base_v, cur = self._current()
        by_name = {f["name"]: f for f in fields}
        cur_spec = self._cur_spec(cur)
        if partition_by is not None:
            spec_parts = _parse_partition_by(
                list(partition_by), by_name
            )
            if cur is not None and self._canon_spec(
                spec_parts
            ) != self._canon_spec(cur_spec):
                raise ValueError(
                    f"iceberg append: partition spec "
                    f"{self._canon_spec(spec_parts)} differs from the "
                    f"table's {self._canon_spec(cur_spec)} — the spec "
                    "is pinned; re-create the table to re-partition"
                )
        else:
            spec_parts = cur_spec
        for sf in spec_parts:
            if sf["source"] not in by_name:
                raise ValueError(
                    f"iceberg append: partition source "
                    f"{sf['source']!r} is not in the batch schema "
                    f"{sorted(by_name)}"
                )
        if cur is not None:
            self._gate_schema(cur, fields)
        staged = self._stage(
            df, spec_parts=spec_parts or None,
            ice_fields=(
                self._cur_fields(cur) if cur is not None else fields
            ),
        )

        def attempt() -> int:
            base_v, cur = self._current()
            if cur is not None:
                self._gate_schema(cur, fields)
                if self._canon_spec(
                    self._cur_spec(cur)
                ) != self._canon_spec(spec_parts):
                    raise ValueError(
                        "iceberg append: a concurrent writer "
                        "changed the partition spec — rebase"
                    )
            return self._publish(
                base_v, cur, fields, staged, spec_parts=spec_parts
            )

        try:
            return retry_commit("iceberg append", attempt)
        except BaseException:
            self._unstage(staged)
            raise

    def last_txn_version(self, app_id: str) -> int:
        """Highest ``txn-version`` any snapshot's summary records for
        ``app_id`` (-1 when none) — the idempotence probe an
        exactly-once sink reads once per micro-batch. Iceberg has no
        dedicated txn action; committers (e.g. Flink's sink with its
        checkpoint-id summary key) store replay marks as SNAPSHOT
        SUMMARY properties, which the spec allows to carry arbitrary
        engine entries — marks survive as long as their snapshots,
        so expire snapshots older than the sink's replay horizon only."""
        return self._txn_mark(self._current()[1], app_id)

    @staticmethod
    def _txn_mark(cur: dict | None, app_id: str) -> int:
        """``last_txn_version`` read from metadata the caller holds."""
        mark = -1
        for s in (cur or {}).get("snapshots") or []:
            summ = s.get("summary") or {}
            if summ.get("txn-app-id") == app_id:
                try:
                    mark = max(mark, int(summ.get("txn-version", -1)))
                except (TypeError, ValueError):
                    continue
        return mark

    def append_txn(
        self,
        df: DataFrame,
        app_id: str,
        txn_version: int,
    ) -> int | None:
        """Idempotent APPEND, as ``DeltaTableWriter.append_txn``: the
        (app_id, txn_version) mark rides ATOMICALLY in the new
        snapshot's summary, so foreachBatch's at-least-once
        redelivery becomes exactly-once (a replayed batch no-ops,
        returns None, unstages). The mark and the schema gate
        re-validate against the head read after
        every lost race — a zombie twin's commit lands at a DIFFERENT
        metadata version, which the create-exclusive publish turns
        into exactly the collision that forces the re-check."""
        fields = _iceberg_fields(df)
        if txn_version <= self.last_txn_version(app_id):
            return None
        base_v, cur = self._current()
        spec_parts = self._cur_spec(cur)  # the sink never states a
        # spec — inherit the table's (transforms included), exactly
        # like the delta committer
        if cur is not None:
            self._gate_schema(cur, fields)
        staged = self._stage(
            df, spec_parts=spec_parts or None,
            ice_fields=(
                self._cur_fields(cur) if cur is not None else fields
            ),
        )

        def attempt() -> int | None:
            base_v, cur = self._current()
            if txn_version <= self._txn_mark(cur, app_id):
                self._unstage(staged)
                return None
            if cur is not None:
                self._gate_schema(cur, fields)
            return self._publish(
                base_v, cur, fields, staged,
                extra_summary={
                    "txn-app-id": app_id,
                    "txn-version": str(txn_version),
                },
                spec_parts=spec_parts,
            )

        try:
            return retry_commit(
                f"iceberg append_txn({app_id}, {txn_version})", attempt
            )
        except ConcurrentWriteError:
            self._unstage(staged)
            # exhausted: the final slot's winner may have been our own
            # redelivered twin — a committed no-op, not a failure
            if txn_version <= self.last_txn_version(app_id):
                return None
            raise
        except BaseException:
            self._unstage(staged)
            raise

    def _check_fv_writable(
        self, cur: dict | None, rewrites_rows: bool = False
    ) -> None:
        """The format-version write gate. v3 commits are supported
        since round 14 for the shapes whose ROW LINEAGE this writer
        can maintain faithfully: appends / CTAS / overwrite assign
        fresh row ids (snapshot ``first-row-id``, per-file
        ``first_row_id``, table ``next-row-id`` — rows are NEW, so
        fresh ids are the spec's answer), metadata-only commits carry
        the lineage state through, and MoR deletes touch no data row
        at all. Round 14 second half: UPDATE (DV preimages +
        postimages staged with preserved ``_row_id``) and OPTIMIZE
        (lineage-MATERIALIZING compaction — those callers pass
        ``lineage_done`` through their publish path and skip this
        gate's rewrite refusal). What still refuses is an EXPLICIT
        mode='cow' row rewrite, which carries no materialized
        lineage: assigning fresh ids would silently corrupt every
        lineage consumer. fv > 3 refuses outright."""
        fv = int((cur or {}).get("format-version", 2) or 2)
        if fv > 3:
            raise NotImplementedError(
                f"{self.path}: format-version {fv} is newer than this "
                "writer understands; use a full Iceberg client"
            )
        if fv >= 3 and rewrites_rows:
            raise NotImplementedError(
                f"{self.path}: format-version 3 commit that rewrites "
                "existing rows WITHOUT materialized lineage — v3 "
                "requires rewritten rows to keep their _row_id; "
                "appends, DV deletes, lineage-preserving UPDATE, "
                "OPTIMIZE, upserts and metadata commits all work — "
                "drop the explicit mode='cow'"
            )

    @staticmethod
    def _fv_of(cur: dict | None) -> int:
        return int((cur or {}).get("format-version", 2) or 2)

    def _publish(
        self,
        base_v: int,
        cur: dict | None,
        fields: list[dict],
        staged: list[Staged],
        extra_summary: dict[str, str] | None = None,
        spec_parts: list[dict] | None = None,
    ) -> int:
        self._check_fv_writable(cur)
        spec_parts = spec_parts or []
        by_name = {f["name"]: f for f in fields}
        part_fields = [
            {"name": sf["name"], "type": sf["vtype"]}
            for sf in spec_parts
        ]
        # only the table-CREATING commit writes this spec (existing
        # tables carry their recorded partition-specs forward below);
        # source-ids therefore resolve against the batch's fresh ids
        spec_fields = [
            {"name": sf["name"], "transform": sf["transform"],
             "source-id": by_name[sf["source"]]["id"],
             "field-id": 1000 + i}
            for i, sf in enumerate(spec_parts)
        ]
        # bounds key on the TABLE's field ids, not the batch's
        # positional ones: _gate_schema admits any (name, type)-equal
        # batch, so a foreign table whose current-schema ids are not
        # 1..n (evolved by a real Iceberg client) would otherwise get
        # bounds recorded under the WRONG field ids — and every
        # skip-enabled reader would then prune on the wrong column's
        # min/max, silently dropping matching files. Only the
        # table-creating first commit takes the batch's own ids.
        bound_fields = self._cur_fields(cur) if cur is not None else fields
        fv = self._fv_of(cur)
        cur = cur or {}
        md = {
            "format-version": fv,
            "table-uuid": cur.get("table-uuid") or str(uuid.uuid4()),
            "location": self.path,
            # nested ids count too — the deepest id anywhere in the
            # tree, or the table's own recorded watermark if higher
            "last-column-id": max(
                _max_field_id(fields),
                int(cur.get("last-column-id", 0) or 0),
            ),
            "schemas": cur.get("schemas")
            or [{"schema-id": 0, "type": "struct", "fields": fields}],
            "current-schema-id": cur.get("current-schema-id", 0),
            "partition-specs": cur.get("partition-specs")
            or [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": cur.get("default-spec-id", 0),
            "last-partition-id": cur.get(
                "last-partition-id", 999 + len(spec_fields)),
            "sort-orders": cur.get("sort-orders")
            or [{"order-id": 0, "fields": []}],
            "default-sort-order-id": cur.get("default-sort-order-id", 0),
            "properties": cur.get("properties") or {},
            "metadata-log": list(cur.get("metadata-log") or []),
        }
        # additive v3 metadata this writer doesn't interpret (e.g. the
        # upgrade-era row-lineage flag) carries through
        if fv >= 3 and "row-lineage" in cur:
            md["row-lineage"] = cur["row-lineage"]
        parent = cur.get("current-snapshot-id")

        def manifests(draft: _Draft) -> list[dict]:
            carried: list[dict] = []
            if parent is not None:
                prev = next(
                    s for s in cur["snapshots"]
                    if s["snapshot-id"] == parent
                )
                # resolve like every READ path does — foreign metadata
                # records the manifest-list as an absolute URI
                # (file://…) and moved/copied tables need re-rooting; a
                # raw open() would break appends onto any table we
                # didn't write
                carried = [
                    self._carry_row(r)
                    for r in AvroFileReader(
                        self.reader()._resolve(prev["manifest-list"])
                    ).records
                ]
            if not staged:
                return carried  # an empty batch adds no manifest
            return carried + [self._write_manifest(
                draft, staged, _manifest_schema(part_fields, fv=fv),
                md["default-spec-id"], bound_fields,
            )]

        return self._commit_snapshot(
            base_v, cur, md,
            {"operation": "append",
             "added-data-files": str(len(staged)),
             "added-records": str(sum(s.rows for s in staged)),
             **(extra_summary or {})},
            manifests,
        )

    def _write_manifest(
        self,
        draft: _Draft,
        staged: list[Staged],
        mschema: dict,
        spec_id: int,
        bound_fields: list[dict],
        content: int = 0,
        eq_ids: list[int] | None = None,
    ) -> dict:
        """Write one manifest of ADDED entries (explicit sequence
        numbers) for the ``staged`` files and return its manifest-list
        row. ``content``: 0 = data, 1 = position deletes, 2 = equality
        deletes carrying ``eq_ids``. Data files record per-column
        [min, max] bounds from their footers over ``bound_fields`` (the
        stats every Iceberg planner data-skips on) and, on format
        version 3, their row lineage: each file reserves the id range
        [cursor, cursor + rows) EXPLICITLY (readers may also inherit
        from the manifest-list row, but explicit ids survive manifest
        rewrites), and the manifest-list row records the range start."""
        mpath = os.path.join(
            self.meta_dir, f"m-{draft.id}-{uuid.uuid4().hex}.avro"
        )
        first_row = draft.next_row if content == 0 else None
        entries = []
        for s in staged:
            lo_b, hi_b = (
                _bound_rows(s.stats, bound_fields)
                if content == 0 else (None, None)
            )
            dfile = {
                "content": content,
                "file_path": s.path,
                "file_format": "PARQUET",
                "partition": s.pv,
                "record_count": s.rows,
                "file_size_in_bytes": s.size,
                "lower_bounds": lo_b,
                "upper_bounds": hi_b,
                "equality_ids": eq_ids,
            }
            if first_row is not None:
                dfile["first_row_id"] = draft.next_row
                draft.next_row += s.rows
            entries.append({
                "status": 1,
                "snapshot_id": draft.id,
                "sequence_number": draft.seq,
                "file_sequence_number": draft.seq,
                "data_file": dfile,
            })
        AvroFileWriter.write(mpath, mschema, entries)
        draft.written.append(mpath)
        return _ml_row(
            mpath, draft, spec_id, content=min(content, 1),
            added=(len(staged), sum(s.rows for s in staged)),
            first_row_id=first_row,
        )

    def _head_snapshot(self, cur: dict) -> dict:
        """The current snapshot a mutation builds on — a
        created-but-never-appended table (snapshots=[]) has no manifest
        list to carry, and a bare StopIteration would both confuse the
        caller and leak its staging."""
        parent = cur.get("current-snapshot-id")
        prev = next(
            (s for s in cur.get("snapshots") or []
             if s["snapshot-id"] == parent),
            None,
        )
        if prev is None:
            raise ValueError(
                f"iceberg table {self.path} has no current snapshot "
                "to mutate — append a first batch"
            )
        return prev

    def _commit_snapshot(
        self,
        base_v: int,
        cur: dict,
        md: dict,
        summary: dict[str, str],
        write_manifests: Callable[[_Draft], list[dict]],
    ) -> int:
        """The tail every snapshot-producing commit shares. Drafts the
        next snapshot — sequence number, id, parent = the current
        snapshot, v3 ``first-row-id`` = the table's ``next-row-id`` —
        lets ``write_manifests(draft)`` write its manifests and return
        the manifest-list rows, writes the manifest list, records the
        snapshot in ``md`` (the caller's new metadata) and publishes
        it. Returns the new snapshot id. Any failure before the
        metadata lands (a lost race raises ``ConcurrentWriteError``)
        unlinks every file the attempt wrote and re-raises; the caller
        unstages and, after a lost race, re-derives from the new
        head."""
        fv = self._fv_of(md)
        snaps = list(cur.get("snapshots") or [])
        parent = cur.get("current-snapshot-id")
        first_row = (
            int(cur.get("next-row-id", 0) or 0) if fv >= 3 else None
        )
        draft = _Draft(
            seq=int(cur.get("last-sequence-number", 0)) + 1,
            id=max((s["snapshot-id"] for s in snaps), default=1000) + 1,
            next_row=first_row,
        )
        try:
            rows = write_manifests(draft)
            ml_path = os.path.join(
                self.meta_dir, f"snap-{draft.id}-{uuid.uuid4().hex}.avro"
            )
            AvroFileWriter.write(ml_path, _ml_schema(fv), rows)
            draft.written.append(ml_path)
            now_ms = int(time.time() * 1000)
            new_snap = {
                "snapshot-id": draft.id,
                "sequence-number": draft.seq,
                "timestamp-ms": now_ms,
                "manifest-list": ml_path,
                "summary": summary,
                "schema-id": md.get("current-schema-id", 0),
            }
            if parent is not None:
                new_snap["parent-snapshot-id"] = parent
            if fv >= 3:
                # the snapshot records its reserved range and the
                # table's high-water mark advances past it
                new_snap["first-row-id"] = first_row
                md["next-row-id"] = draft.next_row
            md["last-sequence-number"] = draft.seq
            md["last-updated-ms"] = now_ms
            md["current-snapshot-id"] = draft.id
            md["snapshots"] = snaps + [new_snap]
            md["snapshot-log"] = list(cur.get("snapshot-log") or []) + [
                {"timestamp-ms": now_ms, "snapshot-id": draft.id}
            ]
            self._publish_metadata(md, base_v)
        except BaseException:
            for p in draft.written:
                if os.path.exists(p):
                    os.unlink(p)
            raise
        return draft.id

    # -- row-level mutation -------------------------------------------------
    #
    # DELETE / UPDATE / MERGE run the verb bodies of
    # ``operators.mutation`` over a ``_Target`` and encode in one of
    # three shapes, chosen per table by ``_how``:
    #
    # - ``cow``: copy-on-write. Every snapshot's manifest tree is a
    #   COMPLETE description, so removing a file means REWRITING the
    #   manifests that contain it (survivors → status EXISTING with
    #   their original data sequence numbers made explicit, removed
    #   files → status DELETED recording this snapshot) while untouched
    #   manifests carry forward verbatim (``_publish_mutation``).
    # - ``mor``: matched rows land in a v2 POSITION-DELETE file under a
    #   content=1 delete manifest (``_publish_mor``).
    # - ``dv``: format version 3 — matched rows land in a Puffin
    #   deletion vector (``_publish_mor_dv``), postimages keep their
    #   row lineage.

    @staticmethod
    def _carry_row(r: dict) -> dict:
        """Normalize a foreign manifest-list row to our writer schema
        (external lists name the counts with the older *_data_* field
        names; missing optionals default)."""
        return {
            "manifest_path": r["manifest_path"],
            "manifest_length": r.get("manifest_length", 0),
            "partition_spec_id": r.get("partition_spec_id", 0),
            "content": r.get("content", 0),
            "sequence_number": r.get("sequence_number", 0),
            "min_sequence_number": r.get("min_sequence_number", 0),
            "added_snapshot_id": r.get("added_snapshot_id", 0),
            "added_files_count": r.get(
                "added_files_count",
                r.get("added_data_files_count", 0) or 0),
            "existing_files_count": r.get(
                "existing_files_count",
                r.get("existing_data_files_count", 0) or 0),
            "deleted_files_count": r.get(
                "deleted_files_count",
                r.get("deleted_data_files_count", 0) or 0),
            "added_rows_count": r.get("added_rows_count", 0) or 0,
            "existing_rows_count": r.get("existing_rows_count", 0) or 0,
            "deleted_rows_count": r.get("deleted_rows_count", 0) or 0,
            # v3 row lineage: preserved verbatim when present; the
            # v2 writer schema simply omits the field
            "first_row_id": r.get("first_row_id"),
        }

    def _cow_scope(
        self, rdr, lineage_done: bool = False
    ) -> tuple[list[tuple[str, str, int | None]], list[dict]]:
        """Gate + the live data set for a COW mutation: (data entries,
        the table's spec-field dicts). Round 12: rewrites restage
        under ANY spec this writer can evaluate — identity AND
        year/month/day/hour/bucket/truncate transforms (``_cur_spec``
        gates evaluability and value serializability); a rewrite
        recomputes each spec field from the restaged rows, so even an
        UPDATE that moves a row across partitions lands it in the
        right one. Round 13: PARTITION EVOLUTION (multiple specs) is
        supported — ``_publish_mutation`` keys every rewritten
        manifest to its files' ORIGINAL spec-id (survivors keep their
        recorded partition records under their own spec's schema),
        while the rewrites stage under the DEFAULT spec, which is
        exactly what Iceberg's own rewrite procedures do."""
        cur = rdr.meta
        # v3 write gate runs HERE — before any probe or staging — so a
        # refused mutation leaks nothing (_publish_mutation's own gate
        # is the backstop). ``lineage_done`` callers (v3 compaction)
        # materialize row lineage into their restaged files, so only
        # the fv>3 refusal applies to them.
        if lineage_done:
            self._check_fv_writable(cur)
        else:
            self._check_fv_writable(cur, rewrites_rows=True)
        spec_parts = self._cur_spec(cur)
        data, pos_d, eq_d, dvs = rdr._files(None)
        if pos_d or eq_d or dvs:
            raise NotImplementedError(
                f"{self.path}: COW mutation under live "
                "position/equality delete files or deletion vectors "
                "needs their ordering applied mid-rewrite — run "
                "optimize() (the purge pass) first"
            )
        return data, spec_parts

    def _target(self, spark: SparkSession, how: str, base_v: int,
                cur: dict, rdr: IcebergTable) -> _Target:
        """Gate one mutation attempt and pin the live sets it plans
        over. Copy-on-write: ``_cow_scope``. The delete-file encoders:
        position-delete files are partition-scoped under a partition
        spec, which this writer does not emit — partitioned tables take
        the COW path. Live deletes of every tier are APPLIED by the
        probe (``_Target.scan`` is the reader's row-identity scan), so an
        upsert-then-mutate history composes; data files with no
        resolvable sequence under a live equality delete refuse there.
        Only the v3 deletion-vector encoder runs under live DVs (it
        replaces them); the position-delete encoder must not split a
        file's delete state across tiers."""
        if how == "cow":
            data, spec_parts = self._cow_scope(rdr)
            return _Target(self, spark, how, base_v, cur, rdr, data,
                           spec_parts=spec_parts)
        meta = rdr.meta
        self._check_fv_writable(meta)  # pre-staging, like _cow_scope
        if self._cur_spec(meta):
            raise NotImplementedError(
                f"{self.path}: merge-on-read mutation on a PARTITIONED "
                "table — position-delete files are partition-scoped "
                "under a spec this writer does not emit; use mode='cow'"
            )
        if self._fv_of(meta) >= 3 and how != "dv":
            raise NotImplementedError(
                f"{self.path}: format-version 3 merge-on-read "
                "UPDATE/MERGE — v3 forbids new position-delete files "
                "and row lineage should survive updates; DELETE "
                "(which writes deletion vectors) and COW-free appends "
                "work; use a full Iceberg client"
            )
        data, pos_d, eq_d, dvs = rdr._files(None)
        if dvs and how != "dv":
            raise NotImplementedError(
                f"{self.path}: merge-on-read mutation under live v3 "
                "deletion vectors — this writer emits v2 position "
                "deletes and must not split a file's delete state "
                "across tiers; use a full Iceberg client"
            )
        return _Target(self, spark, how, base_v, cur, rdr, data, pos_d,
                       eq_d, dvs,
                       old_dv=rdr._dv_positions_map(dvs) if dvs else {})

    def _publish_mor(
        self,
        base_v: int,
        cur: dict,
        rdr: IcebergTable,
        del_staged: list[Staged],
        data_staged: list[Staged],
        operation: str,
        extra_summary: dict[str, str],
        del_content: int = 1,
        del_eq_ids: list[int] | None = None,
        part_fields: list[dict] | None = None,
    ) -> int:
        """Publish one merge-on-read snapshot: the previous manifest
        list carries forward VERBATIM (nothing rewrote), plus a DELETE
        manifest for the new delete file(s) (``del_content``: 1 =
        position deletes, 2 = equality deletes carrying
        ``del_eq_ids``) and — for postimages/upsert batches — a
        content=0 data manifest AT THE SAME sequence number, which is
        what makes an equality-delete upsert atomic: the delete
        applies to strictly-lower sequences, so the batch it rides
        with survives. O(changed rows) committed; zero data rewrite.
        ``part_fields`` (name/value-type dicts) declare the table's
        partition record shape — each staged file's pv then lands in
        its manifest entry, making the delete/data files
        PARTITION-SCOPED the way every conformant planner expects
        (round 12: what partitioned keyed upserts ride on). On v3 the
        data batch reserves fresh row ids; the delete side names
        existing rows and gets none. Loses the race → unlinks its
        avros and raises (the caller unstages + re-probes on the new
        head)."""
        self._check_fv_writable(cur)
        prev = self._head_snapshot(cur)
        mschema = _manifest_schema(part_fields or [], fv=self._fv_of(cur))
        spec_id = cur.get("default-spec-id", 0)
        cur_fields = self._cur_fields(cur)

        def manifests(draft: _Draft) -> list[dict]:
            rows = [
                self._carry_row(r)
                for r in AvroFileReader(
                    rdr._resolve(prev["manifest-list"])
                ).records
            ]
            if data_staged:
                rows.append(self._write_manifest(
                    draft, data_staged, mschema, spec_id, cur_fields
                ))
            if del_staged:
                rows.append(self._write_manifest(
                    draft, del_staged, mschema, spec_id, cur_fields,
                    content=del_content, eq_ids=del_eq_ids,
                ))
            return rows

        return self._commit_snapshot(
            base_v, cur, dict(cur),
            {"operation": operation, **extra_summary}, manifests,
        )

    def _publish_mor_dv(
        self,
        base_v: int,
        cur: dict,
        rdr: IcebergTable,
        live_dvs: list[tuple[str, str | None, int | None, int | None]],
        new_dvs: dict[str, list[int]],
        old_map: dict[str, list[int]],
        extra_summary: dict[str, str],
        staged: list[Staged] | None = None,
        operation: str = "delete",
    ) -> int:
        """Publish one v3 DV-delete snapshot: a fresh Puffin file for
        the touched files' unioned vectors, ONE new DV manifest
        re-recording every live vector (touched → the new blob,
        untouched → their original blob addresses), data manifests
        carried verbatim, prior all-DV delete manifests dropped
        (replaced). Mixed delete manifests (DV + parquet entries in
        one file) refuse — rewriting a foreign manifest's non-DV
        entries is a full client's job. Staged data files (a v3
        UPDATE's postimages) ride the SAME snapshot: lineage-
        materialized parquet whose entries take a fresh row-id range —
        materialized _row_id wins for preserved rows, null slots
        inherit."""
        from algebraicdb_spark.operators.deletion_vectors import (
            puffin_footer,
            write_puffin_dv_file,
        )

        fv = self._fv_of(cur)
        prev = self._head_snapshot(cur)
        spec_id = cur.get("default-spec-id", 0)
        # untouched vectors: (ref uri -> original blob address)
        untouched: dict[str, tuple[str, int, int]] = {}
        for fpath, ref, off, sz in live_dvs:
            if ref is not None and off is not None:
                if ref not in new_dvs:
                    untouched[ref] = (fpath, int(off), int(sz or 0))
            else:
                for blob in puffin_footer(fpath).get("blobs", []):
                    if blob.get("type") != "deletion-vector-v1":
                        continue
                    r = (blob.get("properties") or {}).get(
                        "referenced-data-file"
                    )
                    if r and r not in new_dvs:
                        untouched[r] = (
                            fpath, int(blob["offset"]),
                            int(blob.get("length") or 0),
                        )

        def manifests(draft: _Draft) -> list[dict]:
            locs = {}
            if new_dvs:
                puffin = os.path.join(
                    self.data_dir,
                    f"dv-{draft.id}-{uuid.uuid4().hex}.puffin",
                )
                locs = write_puffin_dv_file(
                    puffin, new_dvs, snapshot_id=draft.id,
                    sequence_number=draft.seq,
                )
                draft.written.append(puffin)
            entries = []

            def dv_entry(ref, fpath, off, ln, card):
                entries.append({
                    "status": 1, "snapshot_id": draft.id,
                    "sequence_number": draft.seq,
                    "file_sequence_number": draft.seq,
                    "data_file": {
                        "content": 1, "file_path": fpath,
                        "file_format": "PUFFIN", "partition": {},
                        "record_count": card,
                        "file_size_in_bytes": os.path.getsize(fpath),
                        "lower_bounds": None, "upper_bounds": None,
                        "referenced_data_file": ref,
                        "content_offset": off,
                        "content_size_in_bytes": ln,
                    },
                })

            for ref in sorted(new_dvs):
                off, ln = locs[ref]
                dv_entry(ref, puffin, off, ln, len(new_dvs[ref]))
            for ref in sorted(untouched):
                fpath, off, ln = untouched[ref]
                dv_entry(ref, fpath, off, ln,
                         len(old_map.get(ref, [])))
            rows = []
            for r in AvroFileReader(
                rdr._resolve(prev["manifest-list"])
            ).records:
                if r.get("content", 0) == 0:
                    rows.append(self._carry_row(r))
                    continue
                # delete manifest: drop if all-DV (replaced), carry
                # if no-DV, refuse if mixed
                m_entries = AvroFileReader(
                    rdr._resolve(r["manifest_path"])
                ).records
                fmts = {
                    str(e["data_file"].get("file_format", "")).upper()
                    for e in m_entries
                }
                if fmts <= {"PUFFIN"}:
                    continue
                if "PUFFIN" in fmts:
                    raise NotImplementedError(
                        f"{self.path}: delete manifest "
                        f"{r['manifest_path']} mixes deletion vectors "
                        "with parquet delete files — rewriting its "
                        "non-DV entries is a full Iceberg client's job"
                    )
                rows.append(self._carry_row(r))
            if entries:
                dv_m = os.path.join(
                    self.meta_dir, f"m-{draft.id}-{uuid.uuid4().hex}.avro"
                )
                AvroFileWriter.write(
                    dv_m, _manifest_schema([], fv=fv), entries
                )
                draft.written.append(dv_m)
                n_dv_rows = sum(len(v) for v in new_dvs.values()) + sum(
                    len(old_map.get(r, [])) for r in untouched
                )
                rows.append(_ml_row(
                    dv_m, draft, spec_id, content=1,
                    added=(len(entries), n_dv_rows),
                ))
            if staged:
                rows.append(self._write_manifest(
                    draft, staged, _manifest_schema([], fv=fv), spec_id,
                    self._cur_fields(cur),
                ))
            return rows

        return self._commit_snapshot(
            base_v, cur, dict(cur),
            {"operation": operation, **extra_summary}, manifests,
        )

    def upsert_by_key(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Keyed UPSERT via v2 EQUALITY DELETES — what equality deletes
        exist FOR: one commit lands (a) an equality-delete file of the
        batch's key values and (b) the batch itself as data files, at
        the SAME sequence number. The spec's strictly-lower-sequence
        rule makes it atomic: old rows with those keys die, the new
        batch survives. NO probe scan at all — O(batch) cost
        regardless of table size or where the old rows live, which is
        why streaming CDC sinks use this shape (a MERGE must at least
        semi-join the table; this touches zero existing bytes).

        Composes with live position AND equality deletes (the reader
        orders strata by sequence — validated on hand-written
        fixtures). ``app_id``/``txn_version`` ride the snapshot
        summary as the same exactly-once replay marks ``append_txn``
        uses: a redelivered (app_id, txn_version) no-ops. Keys must be
        top-level schema columns. PARTITIONED tables work when every
        partition field's source column is in the key (same key ⇒
        same partition values): the batch and its key file both split
        by the table's spec, one partition-scoped equality-delete
        file per touched partition, entry partition records filled —
        the production CDC-into-partitioned-table shape, still
        O(batch). Partition sources outside the key refuse (an old
        row could sit in a partition the scoped delete never
        reaches)."""
        from pyspark.sql import functions as F

        if not key_cols:
            raise ValueError("upsert_by_key needs at least one key column")
        fields = _iceberg_fields(source)

        def attempt() -> dict:
            base_v, cur = self._current()
            if cur is None or cur.get("current-snapshot-id") in (
                None, -1
            ):
                raise ValueError(
                    f"iceberg table {self.path} has no commits to "
                    "upsert into — append the first batch"
                )
            if int(cur.get("format-version", 2) or 2) < 2:
                raise NotImplementedError(
                    f"{self.path}: format-version 1 tables cannot "
                    "carry delete manifests — upgrade with a full "
                    "Iceberg client first"
                )
            # PARTITIONED targets (round 12): legal when every spec
            # field's SOURCE column is part of the key — same key ⇒
            # same partition values (transforms are functions of the
            # source), so a delete file scoped to the new row's
            # partition reaches every old row with that key. Without
            # that, an old row could live in a partition the delete
            # never touches — silent key duplication; refuse.
            spec_parts = self._cur_spec(cur)
            if spec_parts and len(
                cur.get("partition-specs") or []
            ) > 1:
                # partition EVOLUTION: per the spec, a partitioned
                # equality delete applies only to files of the SAME
                # spec+partition — files written under an older spec
                # would keep their old rows in every conformant
                # reader (silent duplicate keys). Unpartitioned
                # defaults stay fine: their delete files are GLOBAL.
                raise NotImplementedError(
                    f"{self.path}: upsert_by_key on a table with "
                    "multiple partition specs (partition evolution) "
                    "— a partition-scoped delete cannot reach "
                    "older-spec files; use merge() or a full "
                    "Iceberg client"
                )
            outside = sorted(
                {sf["source"] for sf in spec_parts} - set(key_cols)
            )
            if outside:
                raise NotImplementedError(
                    f"{self.path}: upsert_by_key on a table "
                    f"partitioned by {self._canon_spec(spec_parts)} — "
                    f"partition source column(s) {outside} are not in "
                    f"the key {key_cols}, so an old row could sit in "
                    "a partition the scoped delete never reaches; "
                    "add them to the key or use merge()"
                )
            part_fields = [
                {"name": sf["name"], "type": sf["vtype"]}
                for sf in spec_parts
            ]
            self._gate_schema(cur, fields)
            rdr = self.reader()
            # the rule the reader enforces at scan time, checked
            # BEFORE committing: an equality delete over data files
            # with no resolvable sequence number would make every
            # subsequent read refuse — bricking the table for this
            # engine (OPTIMIZE could not recover it either: the purge
            # scan hits the same refusal)
            data_now, _pos, _eq, _dvs = rdr._files(None)
            unseq = [p for p, _u, s in data_now if s is None]
            if unseq:
                raise NotImplementedError(
                    f"{self.path}: data file(s) {unseq[:3]} have no "
                    "resolvable sequence number — an equality delete "
                    "over them cannot be ordered; use a full Iceberg "
                    "client"
                )
            if (
                app_id is not None and txn_version is not None
                and txn_version <= self._txn_mark(cur, app_id)
            ):
                return {"version": None, "rows_upserted": 0,
                        "keys_deleted": 0}
            by_name = {f["name"]: f for f in self._cur_fields(cur)}
            missing = [c for c in key_cols if c not in by_name]
            if missing:
                raise ValueError(
                    f"upsert_by_key: key column(s) {missing} not in "
                    "the table schema"
                )
            eq_ids = [int(by_name[c]["id"]) for c in key_cols]
            # stage the BATCH once, then derive the key file from the
            # staged bytes: evaluating a non-deterministic source
            # twice could stage rows whose keys the delete file never
            # covered — silent duplicate keys
            data_staged = self._stage(
                source, ice_fields=self._cur_fields(cur),
                spec_parts=spec_parts or None,
            )
            n_rows = sum(s.rows for s in data_staged)
            if n_rows == 0:
                return {"version": None, "rows_upserted": 0,
                        "keys_deleted": 0}
            del_staged: list = []
            # ANY exception from here on must unstage both lists —
            # the batch is already in data/, and the key-derivation
            # re-read, the key staging, and the publish can each
            # raise; a leaked file is unreachable from every manifest
            # and nothing else ever reclaims it
            try:
                # ONE pass over the staged bytes serves both the
                # key-uniqueness check and the delete-file derivation
                # (grouped counts, checkpointed at O(distinct keys)):
                # a second full read per commit was the round-11
                # advisory nit
                key_counts = spark.read.parquet(
                    *[s.path for s in data_staged]
                ).groupBy(
                    *[F.col(c) for c in key_cols]
                ).agg(F.count(F.lit(1)).alias("__n")).localCheckpoint(
                    eager=False  # the stats collect below materializes
                )
                stats_row = key_counts.agg(
                    F.sum("__n").alias("n"),
                    F.count(F.lit(1)).alias("d"),
                ).collect()[0]
                if int(stats_row["n"]) != int(stats_row["d"]):
                    # the repo's multi-match rule: duplicating a key
                    # inside one keyed-upsert batch is silent
                    # corruption (both rows survive the same-sequence
                    # delete) — refuse loudly; the caller deduplicates
                    raise ValueError(
                        f"upsert_by_key: "
                        f"{int(stats_row['n']) - int(stats_row['d'])} "
                        "source row(s) share a key within the batch — "
                        "both would survive the same-sequence delete; "
                        "deduplicate the source on the key first"
                    )
                keys = key_counts.drop("__n").coalesce(1)
                # equality-delete file columns carry the ids of the
                # fields they reference (spec §Equality Delete Files);
                # on a partitioned table the keys split by the SAME
                # spec (sources ⊆ key, so the transforms evaluate) —
                # one partition-scoped delete file per touched
                # partition, entry partition record filled below
                del_staged = self._stage(
                    keys, ice_fields=[by_name[c] for c in key_cols],
                    spec_parts=spec_parts or None,
                )
                n_keys = sum(s.rows for s in del_staged)
                summary = {"upserted-records": str(n_rows),
                           "added-delete-files": str(len(del_staged))}
                if app_id is not None and txn_version is not None:
                    summary["txn-app-id"] = app_id
                    summary["txn-version"] = str(txn_version)
                snap_id = self._publish_mor(
                    base_v, cur, rdr, del_staged, data_staged,
                    "overwrite", summary,
                    del_content=2, del_eq_ids=eq_ids,
                    part_fields=part_fields or None,
                )
                return {"version": snap_id, "rows_upserted": n_rows,
                        "keys_deleted": n_keys,
                        "delete_files": len(del_staged)}
            except BaseException:
                self._unstage(del_staged)
                self._unstage(data_staged)
                raise

        return retry_commit("iceberg upsert_by_key", attempt)

    def _how(self, cur: dict | None, mode: str, op: str) -> str:
        """The encoder a row-level ``op`` takes on this table:
        format-version 3 writes deletion vectors (``dv``) — v3's native
        shape, whatever the mode knob says (copy-on-write would rewrite
        rows and lose their lineage; an explicit ``mode='cow'`` reaches
        that gate's own refusal); otherwise ``mode``, where ``auto``
        honors the table's ``write.<op>.mode`` property."""
        if cur is None:
            return "cow"  # the attempt refuses: nothing to mutate
        if self._fv_of(cur) >= 3 and mode != "cow":
            return "dv"
        if mode == "auto":
            # Iceberg's knob for choosing merge-on-read; copy-on-write
            # is the spec's default
            prop = (cur.get("properties") or {}).get(f"write.{op}.mode")
            mode = "mor" if str(prop) == "merge-on-read" else "cow"
        return "mor" if mode == "mor" else "cow"

    def _mutate(self, spark: SparkSession, op: str, mode: str,
                body: Callable[[_Target], dict]) -> dict:
        """Run one row-level mutation under ``retry_commit``: each
        attempt pins a head (the first one the head the encoder was
        chosen on), gates it for its encoder and reruns the verb
        ``body`` on a fresh ``_Target`` after a lost race."""
        primed = self._current()
        how = self._how(primed[1], mode, op)
        heads = [primed]

        def attempt() -> dict:
            base_v, cur = heads.pop() if heads else self._current()
            if cur is None:
                raise ValueError(
                    f"iceberg table {self.path} has no commits to "
                    f"{mutation.VERB_OBJECT[op]}"
                )
            return body(
                self._target(spark, how, base_v, cur, self.reader()))

        return retry_commit(f"{_RETRY_NAME[how]} {op}", attempt)

    def delete(
        self,
        spark: SparkSession,
        predicate: str,
        mode: str = "auto",
    ) -> dict:
        """Row-level ``DELETE FROM … WHERE predicate`` (``mutation.delete``;
        NULL keeps the row) as one snapshot of the encoder ``_how``
        picks: ``mor`` under ``mode='mor'`` or the table property
        ``write.delete.mode=merge-on-read``, deletion vectors on format
        version 3 (which forbids new position-delete files). Time
        travel to prior snapshots still reads the pre-delete content."""
        return self._mutate(spark, "delete", mode,
                            lambda t: mutation.delete(t, predicate))

    def update(
        self,
        spark: SparkSession,
        assignments: dict[str, str],
        predicate: str | None = None,
        mode: str = "auto",
    ) -> dict:
        """Row-level ``UPDATE … SET col = expr [WHERE predicate]``
        (``mutation.update``; encoders as in ``delete``, ``mor`` under
        ``write.update.mode``): the delete-file encoders stage only the
        postimages, which keep their v3 row lineage
        (``_Target.carry``). Assigned columns must exist in the pinned
        table schema."""
        return self._mutate(
            spark, "update", mode,
            lambda t: mutation.update(t, assignments, predicate))

    def merge(
        self,
        spark: SparkSession,
        source,
        cond: str,
        assignments: dict[str, str] | None,
        insert_exprs: list[str] | None,
        target_alias: str = "t",
        source_alias: str = "s",
        delete_matched: bool = False,
        mode: str = "auto",
    ) -> dict:
        """``MERGE INTO`` as ONE snapshot (``mutation.merge``; encoders as
        in ``delete``, ``mor`` under ``write.merge.mode``)."""
        mutation.check_merge_clauses(assignments, delete_matched,
                                     insert_exprs)
        m = mutation.Merge(source, cond, target_alias, source_alias)
        return self._mutate(
            spark, "merge", mode,
            lambda t: mutation.merge(t, m, assignments, insert_exprs,
                                     delete_matched))

    def _publish_mutation(
        self,
        base_v: int,
        cur: dict,
        rdr: IcebergTable,
        affected: set[str],
        staged: list[Staged],
        operation: str,
        extra_summary: dict[str, str],
        spec_parts: list[dict] | None = None,
        drop_deletes: bool = False,
        lineage_done: bool = False,
    ) -> int:
        """Build + publish one mutation snapshot: rewritten manifests
        for files in ``affected`` (EXISTING survivors with explicit
        seqs, DELETED casualties recording this snapshot), carried
        rows for untouched manifests, one ADDED manifest for the
        rewrites. ``spec_parts`` declares the partition record shape
        (spec-field name + value type — transforms included since
        round 12); staged files' pv values land in their entries.
        ``drop_deletes`` omits content=1 (delete) manifests from the
        new snapshot — the OPTIMIZE purge pass, where every delete
        target is rewritten. Loses the race → unlinks every avro it
        wrote and raises (caller re-derives from the new head).

        PARTITION EVOLUTION (round 13): a rewritten manifest keeps its
        files' ORIGINAL spec — the new manifest's partition-record
        schema resolves from the source manifest-list row's
        ``partition_spec_id`` and the row carries that id forward, so
        survivors' recorded partition values stay keyed to the spec
        that produced them (re-labeling them under the default spec is
        exactly the corruption the round-12 gate refused). Only the
        ADDED manifest (the restaged rewrites) uses the default
        spec. On v3 the restaged files reserve fresh row-id ranges:
        rows with a MATERIALIZED _row_id keep it (the column wins over
        inheritance), lineage-less rows inherit fresh ids — the spec's
        answer for both."""
        fv = self._fv_of(cur)
        if lineage_done:
            # the caller materialized _row_id/_last_updated_sequence_
            # number into the restaged files — rewriting rows is
            # lineage-safe; only the fv>3 refusal still applies
            self._check_fv_writable(cur)
        else:
            self._check_fv_writable(cur, rewrites_rows=True)
        part_fields = [
            {"name": sf["name"], "type": sf["vtype"]}
            for sf in (spec_parts or [])
        ]
        mschema = _manifest_schema(part_fields, fv=fv)
        dsid = int(cur.get("default-spec-id", 0) or 0)
        spec_schemas: dict[int, dict] = {dsid: mschema}

        def mschema_of(spec_id: int) -> dict:
            if spec_id not in spec_schemas:
                spec_schemas[spec_id] = _manifest_schema([
                    {"name": sf["name"], "type": sf["vtype"]}
                    for sf in self._spec_parts_of(cur, spec_id)
                ], fv=fv)
            return spec_schemas[spec_id]
        prev = self._head_snapshot(cur)
        summary = {"operation": operation}

        def manifests(draft: _Draft) -> list[dict]:
            rows: list[dict] = []
            removed_files = 0
            for r in AvroFileReader(
                rdr._resolve(prev["manifest-list"])
            ).records:
                if drop_deletes and int(r.get("content", 0) or 0) != 0:
                    continue  # purged: every target rewrites below
                mpath = rdr._resolve(r["manifest_path"])
                m_seq = r.get("sequence_number")
                m_sid = r.get("added_snapshot_id")
                entries = AvroFileReader(mpath).records
                live = [
                    e for e in entries if e.get("status", 0) != 2
                ]
                touched = any(
                    rdr._resolve(e["data_file"]["file_path"]) in affected
                    for e in live
                )
                if not touched:
                    rows.append(self._carry_row(r))
                    continue
                out_entries = []
                kept_f = kept_r = del_f = del_r = 0
                seqs = []
                for e in live:
                    dfile = e["data_file"]
                    rp = rdr._resolve(dfile["file_path"])
                    status = e.get("status", 0)
                    eseq = e.get("sequence_number")
                    if eseq is None and status == 1 and m_seq is not None:
                        eseq = m_seq  # the spec's inheritance rule
                    eseq = int(eseq) if eseq is not None else 0
                    seqs.append(eseq)
                    rows_n = int(dfile.get("record_count", 0) or 0)
                    rec = {
                        "content": 0,
                        "file_path": dfile["file_path"],  # verbatim
                        "file_format": dfile.get("file_format",
                                                 "PARQUET"),
                        # the ORIGINAL partition values carry through —
                        # dropping them would break foreign planners'
                        # partition pruning on surviving entries
                        "partition": dfile.get("partition") or {},
                        "record_count": rows_n,
                        "file_size_in_bytes": int(
                            dfile.get("file_size_in_bytes", 0) or 0),
                        # original bounds carry too — a rewrite that
                        # dropped survivors' stats would silently turn
                        # off data skipping for every untouched file
                        "lower_bounds": self._as_bound_rows(
                            dfile.get("lower_bounds")),
                        "upper_bounds": self._as_bound_rows(
                            dfile.get("upper_bounds")),
                    }
                    if fv >= 3:
                        # a surviving file KEEPS its explicit row-id
                        # range — dropping it would re-identify every
                        # row on the next lineage read
                        rec["first_row_id"] = dfile.get("first_row_id")
                    if rp in affected:
                        del_f += 1
                        del_r += rows_n
                        out_entries.append({
                            "status": 2,  # DELETED by THIS snapshot
                            "snapshot_id": draft.id,
                            "sequence_number": eseq,
                            "file_sequence_number": eseq,
                            "data_file": rec,
                        })
                    else:
                        kept_f += 1
                        kept_r += rows_n
                        out_entries.append({
                            "status": 0,  # EXISTING, original seq kept
                            "snapshot_id": e.get("snapshot_id") or m_sid,
                            "sequence_number": eseq,
                            "file_sequence_number": eseq,
                            "data_file": rec,
                        })
                new_m = os.path.join(
                    self.meta_dir, f"m-{draft.id}-{uuid.uuid4().hex}.avro"
                )
                r_spec = int(r.get("partition_spec_id", 0) or 0)
                AvroFileWriter.write(
                    new_m, mschema_of(r_spec), out_entries
                )
                draft.written.append(new_m)
                removed_files += del_f
                # the SOURCE manifest's spec carries through — its
                # entries' partition records belong to that spec
                rows.append(_ml_row(
                    new_m, draft, r_spec,
                    existing=(kept_f, kept_r), deleted=(del_f, del_r),
                    min_seq=min(seqs) if seqs else None,
                ))
            if staged:
                rows.append(self._write_manifest(
                    draft, staged, mschema, cur.get("default-spec-id", 0),
                    self._cur_fields(cur),
                ))
            summary.update({
                "deleted-data-files": str(removed_files),
                "added-data-files": str(len(staged)),
                **extra_summary,
            })
            return rows

        return self._commit_snapshot(
            base_v, cur, dict(cur), summary, manifests
        )

    # -- maintenance ---------------------------------------------------------

    def optimize(
        self,
        spark: SparkSession,
        target_files: int = 1,
        min_inputs: int = 2,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Iceberg's rewrite_data_files: compact the live set into
        ``target_files`` coalesced files in ONE ``replace`` snapshot —
        content-preserving, so the incremental feed (``changes``)
        SKIPS it by the summary operation, exactly like Delta's
        dataChange:false. ``zorder_by`` re-CLUSTERS instead of just
        re-packing (the Delta writer's Morton-key range repartition,
        `_zorder_clustered`) — and since every staged file's manifest
        entry now carries footer-derived lower/upper bounds, the
        narrow per-file spans land where every Iceberg planner
        data-skips on them. Returns the new snapshot id, or None below
        ``min_inputs``. Live delete files route to the PURGE pass."""
        def attempt() -> int | None:
            base_v, cur = self._current()
            if cur is None:
                return None
            rdr = self.reader()
            lineage = self._fv_of(cur) >= 3
            data, pos_d, eq_d, dvs = rdr._files(None)
            # PURGE pass when delete files are live: rewrite the
            # MoR-applied content and DROP the delete manifests (their
            # targets no longer exist — carrying them would leave the
            # table permanently 'has deletes' and waste every reader a
            # delete-file read); the old delete files become
            # vacuum candidates. Iceberg's rewrite_data_files
            # repaying the read-side debt, exactly like Delta OPTIMIZE
            # purging DVs; on v3 THE lever that keeps accumulated
            # deletion vectors from living forever. Runs on
            # PARTITIONED tables too (the restage splits by the spec,
            # transforms included — what a partitioned CDC table's
            # equality-delete strata need); partition evolution
            # composes: every old file tombstones under ITS manifest's
            # spec inside _publish_mutation, the content restages
            # under the default spec.
            purge = bool(pos_d or eq_d or dvs)
            if purge:
                # v3 compaction materializes lineage (below), so only
                # the fv>3 refusal applies to it
                self._check_fv_writable(cur, rewrites_rows=not lineage)
                spec_parts = self._cur_spec(cur)
            else:
                data, spec_parts = self._cow_scope(
                    rdr, lineage_done=lineage)
                if not data or (len(data) < min_inputs and not zorder_by):
                    # nothing to rewrite (zorder included: an empty
                    # live set has nothing to cluster — read.parquet()
                    # of zero paths would crash out of a SQL statement)
                    return None
            ice_fields = self._cur_fields(cur)
            if lineage:
                # v3 compaction materializes each surviving row's
                # lineage into the rewritten files (spec: rewritten
                # rows KEEP their _row_id) — stamped with the
                # reserved field ids; deletes of every tier applied
                src = rdr._identity_scan(
                    spark, data, pos_d, eq_d, rdr._dv_positions_map(dvs),
                    first_ids=rdr._first_row_ids(None),
                ).drop("__uri", "__pos")
                ice_fields = ice_fields + _LINEAGE_FIELDS
            elif purge:
                src = rdr.snapshot(spark)  # MoR-applied content
            else:
                src = spark.read.parquet(*[p for p, _u, _s in data])
            if zorder_by:
                from algebraicdb_spark.operators.txnlog import (
                    _zorder_clustered,
                )

                df = _zorder_clustered(
                    src, zorder_by, max(target_files, 1)
                )
            else:
                df = src.coalesce(max(target_files, 1))
            staged = self._stage(
                df, spec_parts=spec_parts or None,
                ice_fields=ice_fields,
            )
            extra = (
                {"purged-position-deletes": str(len(pos_d)),
                 "purged-equality-deletes": str(len(eq_d)),
                 "purged-deletion-vectors": str(len(dvs))}
                if purge else {"rewritten-data-files": str(len(data))}
            )
            if zorder_by:
                extra["zorder-by"] = ",".join(zorder_by)
            try:
                return self._publish_mutation(
                    base_v, cur, rdr, {p for p, _u, _s in data}, staged,
                    "replace", extra, drop_deletes=purge,
                    spec_parts=spec_parts, lineage_done=lineage,
                )
            except BaseException:
                self._unstage(staged)
                raise

        return retry_commit("iceberg optimize", attempt)

    def vacuum(self, retain_versions: int = 2) -> list[str]:
        """VACUUM — Iceberg's expire_snapshots: drop all but
        the newest ``retain_versions`` snapshots from the metadata and
        physically delete every manifest / manifest list / data file
        reachable ONLY from the expired ones. The current snapshot
        always survives. Candidates come from the expired snapshots'
        own manifest trees, never a directory walk (a walk would reap
        files a concurrent writer has staged but not yet committed —
        the same invariant as the delta vacuum). Returns the
        deleted paths."""
        def attempt() -> list[str]:
            base_v, cur = self._current()
            if cur is None:
                return []
            rdr = self.reader()
            snaps = list(cur.get("snapshots") or [])
            if len(snaps) <= max(retain_versions, 1):
                return []
            by_ts = sorted(
                snaps, key=lambda s: (s.get("timestamp-ms", 0),
                                      s["snapshot-id"])
            )
            keep_n = max(retain_versions, 1)
            kept = by_ts[-keep_n:]
            kept_ids = {s["snapshot-id"] for s in kept}
            kept_ids.add(cur.get("current-snapshot-id"))
            kept = [s for s in snaps if s["snapshot-id"] in kept_ids]
            expired = [
                s for s in snaps if s["snapshot-id"] not in kept_ids
            ]

            def tree(snapshots) -> set[str]:
                out: set[str] = set()
                for s in snapshots:
                    ml = rdr._resolve(s["manifest-list"])
                    out.add(ml)
                    for r in AvroFileReader(ml).records:
                        mp = rdr._resolve(r["manifest_path"])
                        out.add(mp)
                        for e in AvroFileReader(mp).records:
                            out.add(
                                rdr._resolve(
                                    e["data_file"]["file_path"]
                                )
                            )
                return out

            doomed = sorted(tree(expired) - tree(kept))
            md = dict(cur)
            md["snapshots"] = kept
            md["snapshot-log"] = [
                e for e in (cur.get("snapshot-log") or [])
                if e.get("snapshot-id") in kept_ids
            ]
            md["last-updated-ms"] = int(time.time() * 1000)
            self._publish_metadata(md, base_v)
            gone = []
            for p in doomed:
                if os.path.exists(p):
                    gone.append(p)
                    os.unlink(p)
            return gone

        return retry_commit("iceberg vacuum", attempt)

    def _publish_metadata(self, md: dict, base_v: int) -> None:
        """Publish ``md`` as ``v<base_v+1>.metadata.json`` through
        ``publish_exclusive`` — a racer that took the slot makes it
        raise ``ConcurrentWriteError`` and the caller re-derives — and
        swing ``version-hint.text`` forward atomically. The ONE publish
        tail every Iceberg commit shares. Once the metadata file has
        landed nothing raises, so a caller may unlink its files on any
        exception: a failed hint swing drops the now-stale hint
        instead, and readers find the newest version by listing."""
        self._check_fv_writable(md)
        publish_exclusive(
            os.path.join(self.meta_dir, f"v{base_v + 1}.metadata.json"),
            json.dumps(md),
        )
        hint = os.path.join(self.meta_dir, "version-hint.text")
        tmp = hint + f".tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                f.write(str(base_v + 1))
            os.replace(tmp, hint)  # atomic pointer swing
        except OSError:
            for p in (tmp, hint):
                with contextlib.suppress(OSError):
                    os.unlink(p)

    def set_properties(
        self, props: dict[str, str], spark: SparkSession | None = None
    ) -> int:
        """Merge ``props`` into the table's freeform properties map in
        a new metadata version (the same CAS publish as every metadata
        change) — Iceberg's own knob surface: `write.delete.mode =
        merge-on-read` here is what flips this writer's (and every
        engine's) mutations to MoR. A value of None/'' DELETES the
        key. Returns the new metadata version. ``spark`` is unused:
        the signature is the Delta writer's, whose constraint keys
        validate existing rows."""
        def attempt() -> int:
            base_v, cur = self._current()
            if cur is None:
                raise ValueError(
                    f"set_properties on {self.path}: table has no commits"
                )
            now = int(time.time() * 1000)
            merged = dict(cur.get("properties") or {})
            for k, v in props.items():
                if v in (None, ""):
                    merged.pop(str(k), None)
                else:
                    merged[str(k)] = str(v)
            md = dict(cur)
            md["properties"] = merged
            md["last-updated-ms"] = now
            self._publish_metadata(md, base_v)
            return base_v + 1

        return retry_commit("iceberg set_properties", attempt)

    def properties(self) -> dict[str, str]:
        """The current freeform properties map (empty when unset)."""
        _v, cur = self._current()
        return dict((cur or {}).get("properties") or {})

    def upgrade_format_version(self, to: int) -> int:
        """The metadata-only format upgrade a real client runs as
        ``ALTER TABLE … SET TBLPROPERTIES ('format-version'='3')``.
        v2 → 3 stamps ``format-version: 3`` and initializes
        ``next-row-id: 0`` — per the spec, PRE-upgrade data files keep
        a null ``first_row_id`` (their rows have no lineage until a
        rewrite assigns ids), so the id range legitimately starts at
        zero; every post-upgrade append assigns from there. v1 bases
        refuse (v1 predates sequence numbers — the upgrade would have
        to invent a history); downgrades and unknown targets refuse.
        Already-there is a no-op returning the current version."""
        def attempt() -> int:
            base_v, cur = self._current()
            if cur is None:
                raise ValueError(
                    f"upgrade_format_version on {self.path}: table has "
                    "no commits"
                )
            fv = int(cur.get("format-version", 2) or 2)
            if to == fv:
                return base_v
            if to != 3 or fv != 2:
                raise NotImplementedError(
                    f"{self.path}: format-version upgrade {fv} -> {to} "
                    "— only 2 -> 3 is supported (v1 predates sequence "
                    "numbers; downgrades would drop v3 bookkeeping)"
                )
            md = dict(cur)
            md["format-version"] = 3
            md.setdefault("next-row-id", 0)
            md["last-updated-ms"] = int(time.time() * 1000)
            self._publish_metadata(md, base_v)
            return base_v + 1

        return retry_commit("iceberg upgrade_format_version", attempt)

    def restore(self, snapshot_id: int) -> int:
        """RESTORE — Iceberg's rollback_to_snapshot, metadata-only:
        point ``current-snapshot-id`` back at an
        EXISTING snapshot in a new metadata version (the CAS
        create-exclusive publish every metadata change here uses).
        The snapshot chain is untouched — time travel above the
        rollback still reads the undone snapshots, and a later
        ``vacuum`` reclaims them. A snapshot already expired
        out of the metadata refuses loudly. Returns the new metadata
        version (or the current one when already there — no-op)."""
        def attempt() -> int:
            base_v, cur = self._current()
            if cur is None:
                raise ValueError(
                    f"restore on {self.path}: table has no commits"
                )
            ids = {s["snapshot-id"] for s in cur.get("snapshots") or []}
            if snapshot_id not in ids:
                raise ValueError(
                    f"restore to snapshot {snapshot_id}: not in the "
                    "table metadata (expired by maintenance?)"
                )
            if cur.get("current-snapshot-id") == snapshot_id:
                return base_v
            now = int(time.time() * 1000)
            md = dict(cur)
            md["current-snapshot-id"] = snapshot_id
            md["last-updated-ms"] = now
            md["snapshot-log"] = list(
                cur.get("snapshot-log") or []
            ) + [{"timestamp-ms": now, "snapshot-id": snapshot_id}]
            self._publish_metadata(md, base_v)
            return base_v + 1

        return retry_commit("iceberg restore", attempt)
