"""READ-ONLY Apache Iceberg table interop.

``DeltaLogTable`` (txnlog.py) covers the Delta half of "scan tables
other systems maintain"; this module covers Iceberg, whose metadata
tree is JSON at the root but AVRO below it:

    <table>/metadata/v<N>.metadata.json     table metadata + snapshots
    <table>/metadata/version-hint.text      (optional) latest N
    snapshot.manifest-list  ->  *.avro      one row per manifest
    manifest                ->  *.avro      one row per data file

Reading it therefore needs an Avro object-container decoder. No Avro
library ships in this environment, so ``AvroFileReader`` implements
the public Avro 1.11 spec (https://avro.apache.org/docs/1.11.1/
specification/) directly: header magic ``Obj\\x01``, file-metadata
map carrying the WRITER SCHEMA as JSON, 16-byte sync marker, then
sync-delimited blocks of binary-encoded records (null/deflate codecs).
The decoder is fully SCHEMA-DRIVEN — it walks whatever schema the
file embeds (records, unions, arrays, maps, logical types ride on the
underlying primitives), so a real manifest written by Spark/Flink/
Trino with Iceberg's full 30-field ``data_file`` struct decodes
through the same path as the minimal fixtures in the tests; consumers
then look fields up BY NAME, which is how Avro schema evolution is
meant to be consumed.

Iceberg semantics covered (spec: https://iceberg.apache.org/spec/):
- metadata resolution via ``version-hint.text`` or highest
  ``v*.metadata.json``; format-version 1 and 2;
- snapshot -> manifest-list -> manifests -> data-file fan-out, with
  v1's inline ``manifests`` list accepted as well;
- a data file is in the snapshot iff its manifest entry status is
  EXISTING(0) or ADDED(1); DELETED(2) entries are change-tracking
  only and drop out — note this differs from a Delta-style log fold:
  each Iceberg snapshot's manifest tree is a COMPLETE description of
  the snapshot, so time travel reads a different manifest list
  instead of replaying a shorter prefix;
- time travel by ``snapshot_id`` over the metadata's snapshot list.

v2 merge-on-read deletes are applied at scan time. POSITION deletes:
delete manifests fan out to parquet delete files of (file_path, pos)
rows, and ``snapshot`` anti-joins the data scan against them on
Spark's ``_metadata`` file-path/row-index columns — path-exact
matching, safe without sequence numbers because data file paths are
immutable and unique. EQUALITY deletes (``content == 2``): each delete
file's rows remove matching rows (null-safe equality on the columns
its ``equality_ids`` name) from data files with STRICTLY LOWER data
sequence numbers — the spec's ordering rule, honored via the manifest
sequence-number inheritance chain. Loud refusals (silently wrong >
unsupported): delete files whose sequence numbers / equality_ids are
unresolvable, equality_ids naming nested fields, ``live_paths`` on a
snapshot carrying any deletes (a raw path list would resurrect
deleted rows — use ``snapshot``), delete manifests committed inside a
``changes`` window (adds-only feed), unknown codecs and format
versions.

Production swaps this class for pyiceberg behind the same surface
(``live_paths`` / ``snapshot``); the final scan is already just a
multi-path pruned parquet read either way.

Scale shape: like every Iceberg client, the metadata tree is
O(manifests) KB-scale driver-side reads (manifest lists exist
precisely so planners need not touch all manifests; we read them all
only because refusal checks want the full entry set — a predicate-
pruned planner would filter on the list's partition summaries first);
data files are scanned distributed via one multi-path parquet read.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from typing import Any, BinaryIO

from pyspark.sql import DataFrame, SparkSession

from algebraicdb_spark.operators.mutation import local_path

_MAGIC = b"Obj\x01"


def _decode_block(codec: str, payload: bytes, path: str) -> bytes:
    """One Avro block's payload decompressed per the container's codec
    (spec §"Required Codecs"/"Optional Codecs"), through pyarrow's
    bundled codecs. A block that does not decode raises ValueError
    naming the file — a silent bitflip in metadata would corrupt every
    downstream scan decision."""
    import pyarrow as pa

    if codec == "null":
        return payload
    if codec == "deflate":  # raw deflate, no zlib header
        return zlib.decompress(payload, -15)
    try:
        if codec == "zstandard":
            # a bare zstd frame per block (no extra CRC — a frame
            # carries its own optional content checksum, which the
            # decoder verifies); the stream reader also takes frames
            # without a content size. Rust/Go Iceberg writers commonly
            # emit manifests with this codec.
            return pa.CompressedInputStream(
                pa.BufferReader(payload), "zstd"
            ).read()
        # snappy: a raw snappy block (LEB128 uncompressed length, then
        # the tag stream) + the 4-byte BIG-ENDIAN CRC32 of the
        # uncompressed data. Snappy is the default codec of several
        # Iceberg writers (Java's manifest writer among them).
        if len(payload) < 4:
            raise ValueError("too short for its crc32 trailer")
        body, crc = payload[:-4], payload[-4:]
        size = shift = pos = 0
        while True:
            if pos >= len(body) or shift > 35:
                raise ValueError("has a bad length header")
            size |= (body[pos] & 0x7F) << shift
            pos += 1
            if not body[pos - 1] & 0x80:
                break
            shift += 7
        out = pa.Codec("snappy").decompress(
            body, decompressed_size=size, asbytes=True
        )
    except (OSError, pa.ArrowException) as e:
        raise ValueError(
            f"{path}: {codec} avro block does not decode ({e})"
        ) from e
    except ValueError as e:
        raise ValueError(f"{path}: {codec} avro block {e}") from e
    if zlib.crc32(out) & 0xFFFFFFFF != int.from_bytes(crc, "big"):
        raise ValueError(
            f"{path}: snappy avro block crc32 mismatch — corrupt metadata"
        )
    return out


class _Bin:
    """Binary-decoder cursor over one Avro block's bytes."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("truncated avro data")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def long(self) -> int:
        """Zigzag varint — Avro's int and long wire format."""
        shift, acc = 0, 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("varint too long for avro long")
        return (acc >> 1) ^ -(acc & 1)

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


def _decode(d: _Bin, schema: Any, names: dict[str, Any]) -> Any:
    """Decode one value of ``schema``. ``names`` resolves previously
    declared named types (records/enums/fixed referenced by name)."""
    if isinstance(schema, str):
        t = schema
        if t in names:
            return _decode(d, names[t], names)
        if t == "null":
            return None
        if t == "boolean":
            return d.read(1) != b"\x00"
        if t in ("int", "long"):
            return d.long()
        if t == "float":
            return struct.unpack("<f", d.read(4))[0]
        if t == "double":
            return struct.unpack("<d", d.read(8))[0]
        if t == "bytes":
            return d.read(d.long())
        if t == "string":
            return d.read(d.long()).decode("utf-8")
        raise ValueError(f"unknown avro type {t!r}")
    if isinstance(schema, list):  # union: branch index then value
        idx = d.long()
        if not 0 <= idx < len(schema):
            raise ValueError(f"union branch {idx} out of range")
        return _decode(d, schema[idx], names)
    t = schema["type"]
    if t == "record":
        if "name" in schema:
            names[schema["name"]] = schema
        return {
            f["name"]: _decode(d, f["type"], names)
            for f in schema["fields"]
        }
    if t == "enum":
        if "name" in schema:
            names[schema["name"]] = schema
        return schema["symbols"][d.long()]
    if t == "fixed":
        if "name" in schema:
            names[schema["name"]] = schema
        return d.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = d.long()
            if n == 0:
                return out
            if n < 0:  # negative count: block byte-size follows (skippable form)
                n = -n
                d.long()
            for _ in range(n):
                out.append(_decode(d, schema["items"], names))
    if t == "map":
        out_m: dict[str, Any] = {}
        while True:
            n = d.long()
            if n == 0:
                return out_m
            if n < 0:
                n = -n
                d.long()
            for _ in range(n):
                k = d.read(d.long()).decode("utf-8")
                out_m[k] = _decode(d, schema["values"], names)
    # logical types / annotated primitives: {"type": "long", ...}
    return _decode(d, t, names)


class AvroFileReader:
    """Decode every record of an Avro object-container file, driven by
    the file's own embedded writer schema."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            if f.read(4) != _MAGIC:
                raise ValueError(f"{path}: not an avro object container")
            meta = self._file_meta(f)
            self.schema = json.loads(meta[b"avro.schema"])
            self.codec = meta.get(b"avro.codec", b"null").decode()
            if self.codec == "zstd":
                self.codec = "zstandard"  # the spec name; accept both
            if self.codec not in ("null", "deflate", "snappy", "zstandard"):
                raise NotImplementedError(
                    f"{path}: avro codec {self.codec!r} unsupported "
                    "(null/deflate/snappy/zstandard)"
                )
            self.sync = f.read(16)
            self.records = list(self._blocks(f))

    @staticmethod
    def _read_long(f: BinaryIO) -> int:
        shift, acc = 0, 0
        while True:
            raw = f.read(1)
            if not raw:
                raise ValueError("truncated avro header/block")
            b = raw[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def _file_meta(self, f: BinaryIO) -> dict[bytes, bytes]:
        out: dict[bytes, bytes] = {}
        while True:
            n = self._read_long(f)
            if n == 0:
                return out
            if n < 0:
                n = -n
                self._read_long(f)  # skip block byte size
            for _ in range(n):
                k = f.read(self._read_long(f))
                out[k] = f.read(self._read_long(f))

    def _blocks(self, f: BinaryIO):
        while True:
            head = f.read(1)
            if not head:
                return  # clean EOF at a block boundary
            f.seek(-1, os.SEEK_CUR)
            n_rec = self._read_long(f)
            n_bytes = self._read_long(f)
            payload = f.read(n_bytes)
            if len(payload) != n_bytes:
                raise ValueError(f"{self.path}: truncated avro block")
            payload = _decode_block(self.codec, payload, self.path)
            if f.read(16) != self.sync:
                raise ValueError(f"{self.path}: avro sync marker mismatch")
            d = _Bin(payload)
            for _ in range(n_rec):
                yield _decode(d, self.schema, {})
            if not d.at_end():
                raise ValueError(f"{self.path}: trailing bytes in avro block")


_EXISTING, _ADDED, _DELETED = 0, 1, 2

# format-version 3 row-lineage metadata columns (reserved field ids
# 2147483540 / 2147483539): materialized by lineage-preserving
# rewrites, NEVER surfaced by user-facing reads
_RESERVED_ROW_COLS = ("_row_id", "_last_updated_sequence_number")


def apply_equality_strata(
    spark: "SparkSession",
    df: "DataFrame",
    eq_deletes: list[tuple[str, int, tuple[int, ...]]],
    by_id: dict[int, str],
    path: str,
) -> "DataFrame":
    """Apply v2 EQUALITY DELETES to ``df`` (which must carry each
    row's data sequence number as ``__seq``): per the spec, each
    (sequence, equality_ids) stratum removes null-safe-matching rows
    from data with STRICTLY LOWER sequence numbers — one broadcast
    LEFT ANTI join per stratum. The ONE implementation both the
    reader's scan and the writer's merge-on-read probe use, so the
    two can never disagree about what a delete reaches."""
    from pyspark.sql import functions as F

    groups: dict[tuple[int, tuple[int, ...]], list[str]] = {}
    for p, seq, ids in eq_deletes:
        groups.setdefault((seq, ids), []).append(p)
    for (seq, ids), dpaths in sorted(groups.items()):
        missing = [i for i in ids if i not in by_id]
        if missing:
            raise NotImplementedError(
                f"{path}: equality_ids {missing} name nested or "
                "unknown fields (not in the current schema's top "
                "level) — use a full Iceberg client"
            )
        names = [by_id[i] for i in ids]
        eq = spark.read.parquet(*dpaths).select(
            *[F.col(c).alias(f"__eq_{c}") for c in names]
        ).dropDuplicates()
        conds = [df[c].eqNullSafe(eq[f"__eq_{c}"]) for c in names]
        conds.append(F.col("__seq") < F.lit(seq))
        pred = conds[0]
        for c in conds[1:]:
            pred = pred & c
        df = df.join(F.broadcast(eq), pred, "left_anti")
    return df


class IcebergTable:
    """Read-only Iceberg v1/v2 table: snapshot resolution, time travel
    by snapshot id, and the manifest fan-out to live data files."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        if not os.path.isdir(self.meta_dir):
            raise ValueError(f"{path} has no metadata directory")
        self.meta = self._load_metadata()
        fv = self.meta.get("format-version")
        if fv not in (1, 2, 3):
            raise NotImplementedError(f"iceberg format-version {fv}")
        # format-version 3 (rounds 13-14): scans and time travel work —
        # the additive v3 metadata (row lineage ids, next-row-id,
        # default column values) changes nothing about resolving
        # manifests to parquet paths. PUFFIN deletion vectors read
        # since round 14 (_files surfaces them; the scan decodes the
        # CRC-framed roaring blobs and anti-joins positions like
        # position deletes). The writer commits the lineage-safe v3
        # envelope (appends with row-id assignment, DV deletes,
        # metadata commits) and refuses COW rewrites, which would
        # need rewritten rows to keep their _row_id.

    def _load_metadata(self) -> dict:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                v = int(f.read().strip())
            name = f"v{v}.metadata.json"
        else:
            cands = sorted(
                (int(f[1:].split(".", 1)[0]), f)
                for f in os.listdir(self.meta_dir)
                if f.startswith("v")
                and f.endswith(".metadata.json")
                and f[1:].split(".", 1)[0].isdigit()
            )
            if not cands:
                raise ValueError(f"{self.path}: no v*.metadata.json found")
            name = cands[-1][1]
        with open(os.path.join(self.meta_dir, name)) as f:
            return json.load(f)

    # -- snapshots -----------------------------------------------------

    def snapshots(self) -> list[dict]:
        return self.meta.get("snapshots", [])

    def current_snapshot_id(self) -> int:
        sid = self.meta.get("current-snapshot-id")
        if sid in (None, -1):
            raise ValueError(f"{self.path}: table has no current snapshot")
        return sid

    def _snapshot(self, snapshot_id: int | None) -> dict:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        for s in self.snapshots():
            if s["snapshot-id"] == sid:
                return s
        raise ValueError(
            f"{self.path}: snapshot {sid} not in metadata "
            "(expired by maintenance?)"
        )

    # -- manifest fan-out ----------------------------------------------

    def _resolve(self, location: str) -> str:
        """Manifest paths are absolute URIs in real tables; strip the
        scheme and re-root paths written by a different filesystem
        layout onto this table directory when possible."""
        p = location
        if "://" in p:
            p = p.split("://", 1)[1]
            p = "/" + p.split("/", 1)[1] if "/" in p else p
        if os.path.exists(p):
            return p
        # re-root on the local table dir (moved/copied tables)
        marker = "/metadata/"
        if marker in p:
            return os.path.join(self.meta_dir, p.split(marker, 1)[1])
        if "/data/" in p:
            return os.path.join(
                self.path, "data", p.split("/data/", 1)[1]
            )
        return p

    def _manifests(
        self, snap: dict
    ) -> list[tuple[str, int | None, int, int | None]]:
        """(manifest path, added_snapshot_id, content, sequence_number)
        per manifest — added_snapshot_id is what null-``snapshot_id``
        manifest entries INHERIT per the spec; content distinguishes
        DATA manifests (0) from DELETE manifests (1, v2 merge-on-read);
        the manifest's data sequence number is what null-``sequence_
        number`` ADDED entries inherit, and is what orders equality
        deletes against data files."""
        if "manifest-list" in snap:
            rows = AvroFileReader(
                self._resolve(snap["manifest-list"])
            ).records
            return [
                (self._resolve(r["manifest_path"]),
                 r.get("added_snapshot_id"),
                 r.get("content", 0),
                 r.get("sequence_number"))
                for r in rows
            ]
        if "manifests" in snap:  # v1 inline form: no added_snapshot_id,
            # and v1 has no delete manifests at all
            return [(self._resolve(p), None, 0, None) for p in snap["manifests"]]
        raise ValueError(
            f"{self.path}: snapshot {snap.get('snapshot-id')} has neither "
            "manifest-list nor manifests"
        )

    def _check_status(self, entry: dict) -> int:
        status = entry.get("status", _EXISTING)
        if status not in (_EXISTING, _ADDED, _DELETED):
            raise ValueError(
                f"{self.path}: unknown manifest entry status {status}"
            )
        return status

    def _check_parquet(self, df: dict, kind: str) -> None:
        fmt = str(df.get("file_format", "PARQUET")).upper()
        if fmt == "PUFFIN":
            # position-delete Puffin entries (v3 deletion vectors)
            # route to the DV decoder before this check (round 14) —
            # a puffin DATA or EQUALITY-delete file has no defined
            # meaning and refuses
            raise NotImplementedError(
                f"{self.path}: puffin {kind} file "
                f"({df.get('file_path')}) — only deletion-vector "
                "position deletes live in puffin files; corrupt or "
                "unsupported layout"
            )
        if fmt != "PARQUET":
            raise NotImplementedError(
                f"{self.path}: {fmt} {kind} file — parquet scans only"
            )

    def _dv_positions_map(
        self,
        dvs: list[tuple[str, str | None, int | None, int | None]],
    ) -> dict[str, list[int]]:
        """referenced data-file URI → deleted positions for a
        snapshot's live deletion vectors (v3). Entries carrying the
        manifest address (referenced_data_file + content_offset)
        decode exactly one blob; entries without fall back to the
        Puffin footer index. Two different live DVs for one data file
        are corrupt (the v3 single-DV rule) and refuse."""
        from algebraicdb_spark.operators.deletion_vectors import (
            puffin_dv_positions,
            puffin_dvs,
        )

        out: dict[str, list[int]] = {}

        def put(ref: str, pos: list[int]) -> None:
            if ref in out and sorted(out[ref]) != sorted(pos):
                raise ValueError(
                    f"{self.path}: two different deletion vectors "
                    f"reference {ref} — at most one DV per data file "
                    "may be live (corrupt metadata)"
                )
            out[ref] = pos

        for fpath, ref, offset, size in dvs:
            if ref is not None and offset is not None:
                put(ref, puffin_dv_positions(fpath, int(offset), size))
            else:
                for r, pos in puffin_dvs(fpath).items():
                    put(r, pos)
        return out

    @staticmethod
    def _entry_seq(entry: dict, status: int, m_seq: int | None) -> int | None:
        """The entry's DATA sequence number: explicit when present,
        inherited from the manifest when null AND the entry is ADDED
        (the spec's inheritance rule); otherwise unknown (None) — only
        an error if equality deletes later need the ordering."""
        seq = entry.get("sequence_number")
        if seq is not None:
            return int(seq)
        if status == _ADDED and m_seq is not None:
            return int(m_seq)
        return None

    def _files(
        self, snapshot_id: int | None = None
    ) -> tuple[
        list[tuple[str, str, int | None]],
        list[str],
        list[tuple[str, int, tuple[int, ...]]],
    ]:
        """The snapshot's file sets:
        ([(resolved data path, file_path exactly as recorded, data
        sequence number)], [resolved POSITION delete paths],
        [(resolved EQUALITY delete path, sequence number,
        equality field ids)]).

        The recorded URI rides along because position delete rows
        reference data files by that exact string — matching on it
        (not on local resolution) is what keeps the anti-join correct
        for moved/copied tables. Equality deletes carry their sequence
        number and equality_ids: the spec's rule is that an equality
        delete applies to data files with STRICTLY LOWER data sequence
        numbers — a delete file with no resolvable sequence number or
        no equality_ids refuses (applying it unordered would delete
        rows it must not reach)."""
        snap = self._snapshot(snapshot_id)
        data: list[tuple[str, str, int | None]] = []
        pos_deletes: set[str] = set()
        eq_deletes: list[tuple[str, int, tuple[int, ...]]] = []
        dvs: list[tuple[str, str | None, int | None, int | None]] = []
        for mpath, _sid, m_content, m_seq in self._manifests(snap):
            for entry in AvroFileReader(mpath).records:
                status = self._check_status(entry)
                df = entry["data_file"]
                content = df.get("content", 0)
                if m_content == 0:
                    if content != 0:
                        raise NotImplementedError(
                            f"{self.path}: delete file "
                            f"{df.get('file_path')} inside a DATA "
                            "manifest — corrupt or unsupported layout"
                        )
                    if status == _DELETED:
                        continue
                    self._check_parquet(df, "data")
                    data.append(
                        (
                            self._resolve(df["file_path"]),
                            df["file_path"],
                            self._entry_seq(entry, status, m_seq),
                        )
                    )
                else:  # delete manifest (v2 merge-on-read)
                    if status == _DELETED:
                        continue  # this delete file no longer applies
                    if content == 2:
                        self._check_parquet(df, "equality delete")
                        seq = self._entry_seq(entry, status, m_seq)
                        ids = df.get("equality_ids")
                        if seq is None or not ids:
                            raise NotImplementedError(
                                f"{self.path}: equality delete file "
                                f"{df.get('file_path')} lacks "
                                f"{'a sequence number' if seq is None else 'equality_ids'}"
                                " — applying it unordered/untargeted "
                                "would delete rows it must not reach; "
                                "use a full Iceberg client"
                            )
                        eq_deletes.append(
                            (
                                self._resolve(df["file_path"]),
                                seq,
                                tuple(int(i) for i in ids),
                            )
                        )
                        continue
                    if content != 1:
                        raise ValueError(
                            f"{self.path}: entry with data_file.content="
                            f"{content} inside a DELETE manifest — corrupt"
                        )
                    if str(df.get("file_format", "")).upper() == "PUFFIN":
                        # format-version 3 deletion vector (round 14):
                        # a roaring blob in a Puffin file, targeted at
                        # ONE data file — decoded and applied like
                        # position deletes. The v3 manifest entry
                        # carries the blob address; entries without it
                        # fall back to the Puffin footer index.
                        dvs.append((
                            self._resolve(df["file_path"]),
                            df.get("referenced_data_file"),
                            df.get("content_offset"),
                            df.get("content_size_in_bytes"),
                        ))
                        continue
                    self._check_parquet(df, "position delete")
                    pos_deletes.add(self._resolve(df["file_path"]))
        # fold duplicate (path, uri) listings across manifests (an
        # EXISTING carry next to the original ADDED entry) into ONE
        # scan entry, preferring a resolved sequence number — a plain
        # sorted(set(...)) would both double-scan the file (duplicate
        # rows) and crash comparing None with int on the seq slot
        by_file: dict[tuple[str, str], int | None] = {}
        for p, u, s in data:
            prev = by_file.get((p, u), s)
            if prev is not None and s is not None and prev != s:
                raise ValueError(
                    f"{self.path}: data file {u} listed with conflicting "
                    f"sequence numbers {prev} and {s} across manifests — "
                    "corrupt metadata"
                )
            by_file[(p, u)] = s if s is not None else prev
        folded = [
            (p, u, s)
            for (p, u), s in sorted(by_file.items())
        ]
        # fold duplicate DV listings (ADDED + carried EXISTING); two
        # DIFFERENT live DVs per entry key are corrupt by the v3 rule
        # "at most one DV per data file" — but that check needs the
        # referenced uri, which the footer fallback resolves later, so
        # here we only dedup exact entries
        dvs_folded = sorted(set(dvs), key=lambda t: (
            t[0], t[1] or "", t[2] or -1, t[3] or -1
        ))
        return folded, sorted(pos_deletes), sorted(set(eq_deletes)), dvs_folded

    def _first_row_ids(
        self, snapshot_id: int | None = None
    ) -> dict[str, int | None]:
        """{recorded data-file uri: explicit ``first_row_id`` (None =
        the file has no row lineage)} for the snapshot's live data
        files — the map a lineage-preserving v3 rewrite materializes
        ``_row_id`` from (row id = first_row_id + physical ordinal
        unless a materialized column overrides). Only EXPLICIT
        per-entry ids resolve; an entry whose id must be INHERITED
        (spec: null entry id under a manifest-list row carrying
        ``first_row_id``) refuses — this repo's writer always records
        explicit ids, and mis-deriving the inheritance arithmetic
        would silently rewrite every row's identity."""
        snap = self._snapshot(snapshot_id)
        ml = snap.get("manifest-list")
        if not ml:
            return {}
        out: dict[str, int | None] = {}
        for row in AvroFileReader(self._resolve(ml)).records:
            if int(row.get("content", 0) or 0) != 0:
                continue
            ml_first = row.get("first_row_id")
            for entry in AvroFileReader(
                self._resolve(row["manifest_path"])
            ).records:
                if self._check_status(entry) == _DELETED:
                    continue
                dfile = entry["data_file"]
                if dfile.get("content", 0) != 0:
                    continue
                fid = dfile.get("first_row_id")
                if fid is None and ml_first is not None:
                    raise NotImplementedError(
                        f"{self.path}: data file "
                        f"{dfile.get('file_path')} carries no explicit "
                        "first_row_id and its manifest-list row implies "
                        "INHERITANCE — resolving the inherited id range "
                        "is a full Iceberg client's job"
                    )
                uri = dfile["file_path"]
                prev = out.get(uri, fid)
                if prev is not None and fid is not None and prev != fid:
                    raise ValueError(
                        f"{self.path}: data file {uri} listed with "
                        f"conflicting first_row_id {prev} and {fid} "
                        "across manifests — corrupt metadata"
                    )
                out[uri] = int(fid) if fid is not None else prev
        return out

    # iceberg "single-value binary serialization" (the spec's bound
    # encoding in manifest lower_bounds/upper_bounds), per type
    @staticmethod
    def _decode_bound(t: str, b: bytes):
        t = str(t)
        try:
            if t == "int" or t == "date":
                return struct.unpack("<i", b)[0]
            if t == "long":
                return struct.unpack("<q", b)[0]
            if t == "float":
                return struct.unpack("<f", b)[0]
            if t == "double":
                return struct.unpack("<d", b)[0]
            if t == "string":
                return b.decode("utf-8")
            if t == "boolean":
                return bool(b[0])
        except (struct.error, UnicodeDecodeError, IndexError):
            return None
        return None  # decimals/uuid/etc: cannot prune, never wrongly

    def _identity_part_cols(self) -> dict[str, str]:
        """spec partition-field name → source column name, identity
        transforms only (a bucket/truncate VALUE cannot answer a range
        question on the source column — those fields never prune)."""
        specs = self.meta.get("partition-specs") or []
        spec = next(
            (s for s in specs
             if s.get("spec-id") == self.meta.get("default-spec-id", 0)),
            None,
        )
        if spec is None:
            legacy = self.meta.get("partition-spec")
            spec = {"fields": legacy} if legacy else {"fields": []}
        by_id = self._field_names_by_id()
        out = {}
        for f in spec.get("fields") or []:
            if f.get("transform") == "identity":
                src_name = by_id.get(f.get("source-id"))
                if src_name:
                    out[f.get("name") or src_name] = src_name
        return out

    def _transform_part_fields(self) -> list[dict]:
        """The default spec's NON-identity partition fields this
        reader can prune on: {name, source, transform, param,
        source_type} for year/month/day/hour (monotonic), truncate
        (monotonic), and bucket (equality-only)."""
        import re as _re

        specs = self.meta.get("partition-specs") or []
        spec = next(
            (s for s in specs
             if s.get("spec-id") == self.meta.get("default-spec-id", 0)),
            None,
        )
        if spec is None:
            legacy = self.meta.get("partition-spec")
            spec = {"fields": legacy} if legacy else {"fields": []}
        by_id = self._field_names_by_id()
        types_by_name: dict[str, str] = {}
        schemas = self.meta.get("schemas") or (
            [self.meta["schema"]] if self.meta.get("schema") else []
        )
        sid = self.meta.get("current-schema-id", 0)
        sch = next(
            (s for s in schemas if s.get("schema-id", 0) == sid),
            schemas[-1] if schemas else {"fields": []},
        )
        for f in sch.get("fields", []):
            types_by_name[f["name"]] = str(f["type"])
        out = []
        for f in spec.get("fields") or []:
            t = str(f.get("transform"))
            src = by_id.get(f.get("source-id"))
            if not src or t == "identity":
                continue
            name = f.get("name") or src
            if t in ("year", "month", "day", "hour"):
                out.append({"name": name, "source": src,
                            "transform": t, "param": None,
                            "source_type": types_by_name.get(src)})
                continue
            m = _re.match(r"^(bucket|truncate)\[(\d+)\]$", t)
            if m:
                out.append({"name": name, "source": src,
                            "transform": m.group(1),
                            "param": int(m.group(2)),
                            "source_type": types_by_name.get(src)})
        return out

    @staticmethod
    def _py_transform(v, transform: str, param: int | None,
                      source_type: str | None):
        """Apply one partition transform to a SKIP-bound value
        driver-side (the pruning question is 'what partition value
        would this source value map to'); None = cannot evaluate,
        which callers must treat as cannot-prune."""
        import datetime

        try:
            if transform in ("year", "month", "day"):
                if isinstance(v, str):
                    v = datetime.date.fromisoformat(v[:10])
                if isinstance(v, datetime.datetime):
                    v = v.date()
                if not isinstance(v, datetime.date):
                    return None
                if transform == "year":
                    return v.year - 1970
                if transform == "month":
                    return (v.year - 1970) * 12 + v.month - 1
                return (v - datetime.date(1970, 1, 1)).days
            if transform == "hour":
                if isinstance(v, str):
                    v = datetime.datetime.fromisoformat(v)
                if not isinstance(v, datetime.datetime):
                    return None
                if v.tzinfo is None:
                    v = v.replace(tzinfo=datetime.timezone.utc)
                # timedelta floor-division — int(timestamp()) would
                # truncate pre-epoch sub-second instants toward zero
                # and disagree with the spec's floorDiv
                epoch = datetime.datetime(
                    1970, 1, 1, tzinfo=datetime.timezone.utc
                )
                return (v - epoch) // datetime.timedelta(hours=1)
            if transform == "truncate":
                if isinstance(v, int) and not isinstance(v, bool):
                    return v - (v % int(param))
                if isinstance(v, str):
                    return v[:int(param)]
                return None
            if transform == "bucket":
                from algebraicdb_spark.operators.iceberg_writer import (
                    bucket_value,
                )

                return bucket_value(v, str(source_type), int(param))
        except (TypeError, ValueError, OverflowError):
            return None
        return None

    def _prunable_state(
        self, snapshot_id: int | None = None
    ) -> dict[str, tuple[dict, dict, dict]]:
        """resolved data path → (per-column [min, max] decoded from the
        manifest entry's lower/upper bounds, identity partition values
        by SOURCE column name, the RAW partition record by spec field
        name — what the transform tier prunes on) — the log-side
        skipping inputs every Iceberg client folds. Bounds keyed by
        field id decode through the spec's single-value binary
        serialization; anything undecodable is dropped (cannot prune ≠
        prune wrongly).

        PARTITION EVOLUTION: partition-record pruning applies only to
        files whose manifest belongs to the DEFAULT spec — an
        older-spec record may reuse a field name over a different
        source/transform, and pruning it under the default spec's
        interpretation could prune WRONGLY. Older-spec files keep
        column-bounds pruning (spec-independent) and scan otherwise."""
        by_id = self._field_names_by_id()
        types_by_id = {}
        schemas = self.meta.get("schemas") or (
            [self.meta["schema"]] if self.meta.get("schema") else []
        )
        sid = self.meta.get("current-schema-id", 0)
        sch = next(
            (s for s in schemas if s.get("schema-id", 0) == sid),
            schemas[-1] if schemas else {"fields": []},
        )
        for f in sch.get("fields", []):
            types_by_id[int(f["id"])] = str(f["type"])
        part_map = self._identity_part_cols()
        snap = self._snapshot(snapshot_id)
        dsid = int(self.meta.get("default-spec-id", 0) or 0)
        spec_of: dict[str, int] = {}
        if "manifest-list" in snap:
            for r in AvroFileReader(
                self._resolve(snap["manifest-list"])
            ).records:
                spec_of[self._resolve(r["manifest_path"])] = int(
                    r.get("partition_spec_id", 0) or 0
                )

        def as_pairs(v):
            if isinstance(v, dict):
                return list(v.items())
            if isinstance(v, list):
                return [
                    (e.get("key"), e.get("value"))
                    for e in v if isinstance(e, dict)
                ]
            return []

        out: dict[str, tuple[dict, dict]] = {}
        for mpath, _sid2, m_content, _mseq in self._manifests(snap):
            if m_content != 0:
                continue
            for entry in AvroFileReader(mpath).records:
                if self._check_status(entry) == _DELETED:
                    continue
                df = entry["data_file"]
                if df.get("content", 0) != 0:
                    continue
                lo = {}
                hi = {}
                for k, v in as_pairs(df.get("lower_bounds")):
                    name = by_id.get(int(k)) if k is not None else None
                    t = types_by_id.get(int(k)) if k is not None else None
                    if name and t and isinstance(v, (bytes, bytearray)):
                        d = self._decode_bound(t, bytes(v))
                        if d is not None:
                            lo[name] = d
                for k, v in as_pairs(df.get("upper_bounds")):
                    name = by_id.get(int(k)) if k is not None else None
                    t = types_by_id.get(int(k)) if k is not None else None
                    if name and t and isinstance(v, (bytes, bytearray)):
                        d = self._decode_bound(t, bytes(v))
                        if d is not None:
                            hi[name] = d
                bounds = {
                    c: [lo[c], hi[c]] for c in lo if c in hi
                }
                if spec_of.get(mpath, dsid) == dsid:
                    pv_rec = df.get("partition") or {}
                else:
                    pv_rec = {}  # older spec: records don't answer
                    # default-spec questions — bounds still prune
                pv = {
                    part_map[f]: pv_rec.get(f)
                    for f in pv_rec
                    if f in part_map
                }
                out[self._resolve(df["file_path"])] = (
                    bounds, pv, dict(pv_rec)
                )
        return out

    def _pruned_paths(
        self, snapshot_id: int | None, skip: list[tuple] | None
    ) -> set[str] | None:
        """Resolved data paths surviving ``skip`` = [(col, lo, hi), …]
        under the two tiers (identity partition value — authoritative,
        nulls prune against ranges — then decoded bounds); None when
        no skip was requested."""
        if not skip:
            return None
        from algebraicdb_spark.operators.txnlog import (
            _bounds_prune,
            _pv_prunes,
        )

        tf_fields = self._transform_part_fields()
        keep: set[str] = set()
        for path, (bounds, pv, raw_pv) in self._prunable_state(
            snapshot_id
        ).items():
            ok = True
            for col, lo_v, hi_v in skip:
                if _pv_prunes(pv, col, lo_v, hi_v):
                    ok = False
                    break
                b = bounds.get(col)
                if b is not None and _bounds_prune(b, lo_v, hi_v):
                    ok = False
                    break
                if self._tf_prunes(
                    tf_fields, raw_pv, col, lo_v, hi_v
                ):
                    ok = False
                    break
            if ok:
                keep.add(path)
        return keep

    def _tf_prunes(
        self, tf_fields: list[dict], raw_pv: dict, col, lo_v, hi_v
    ) -> bool:
        """The TRANSFORM pruning tier: a file's recorded transform
        value rules it out when the skip range on the SOURCE column
        cannot reach it — year/month/day/hour and truncate are
        order-preserving, so the transformed range brackets the
        file's value; bucket answers EQUALITY only (a range of source
        values scatters across buckets). Any inconclusive evaluation
        keeps the file — cannot prune, never prune wrongly."""
        for tf in tf_fields:
            if tf["source"] != col:
                continue
            v = raw_pv.get(tf["name"])
            if v is None:
                continue
            if tf["transform"] == "bucket":
                if lo_v is not None and hi_v is not None and lo_v == hi_v:
                    b = self._py_transform(
                        lo_v, "bucket", tf["param"], tf["source_type"]
                    )
                    if b is not None and b != v:
                        return True
                continue
            t_lo = (
                self._py_transform(
                    lo_v, tf["transform"], tf["param"],
                    tf["source_type"],
                )
                if lo_v is not None else None
            )
            t_hi = (
                self._py_transform(
                    hi_v, tf["transform"], tf["param"],
                    tf["source_type"],
                )
                if hi_v is not None else None
            )
            try:
                if t_lo is not None and v < t_lo:
                    return True
                if t_hi is not None and v > t_hi:
                    return True
            except TypeError:
                continue
        return False

    def _field_names_by_id(self) -> dict[int, str]:
        """Top-level column name per field id from the CURRENT schema
        (equality_ids reference field ids, never names) — the v2
        ``schemas`` list keyed by ``current-schema-id``, falling back
        to the legacy single ``schema``. Nested field ids are absent
        from this map and refuse downstream."""
        schema = None
        schemas = self.meta.get("schemas")
        if schemas:
            cur = self.meta.get("current-schema-id")
            schema = next(
                (s for s in schemas if s.get("schema-id") == cur),
                schemas[-1],
            )
        else:
            schema = self.meta.get("schema")
        if not schema:
            return {}
        return {
            int(f["id"]): f["name"]
            for f in schema.get("fields", [])
            if f.get("id") is not None and f.get("name")
        }

    def live_paths(
        self,
        snapshot_id: int | None = None,
        skip: list[tuple] | None = None,
    ) -> list[str]:
        """Resolved live data paths, optionally pruned by ``skip`` =
        [(col, lo, hi), …] through the manifest-side tiers (identity
        partition values, then decoded lower/upper bounds) — what an
        Iceberg client's scan planning does before reading a byte."""
        data, pos_deletes, eq_deletes, dvs = self._files(snapshot_id)
        if pos_deletes or eq_deletes or dvs:
            raise ValueError(
                f"{self.path}: snapshot carries delete files — the live "
                "rows are not expressible as a raw file list (scanning "
                "these paths would resurrect deleted rows); use "
                "snapshot(), which applies the deletes"
            )
        kept = self._pruned_paths(snapshot_id, skip)
        return sorted(
            p for p, _u, _s in data if kept is None or p in kept
        )

    def changes(
        self,
        spark: SparkSession,
        since_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """Incremental APPEND scan between snapshots — Iceberg's
        incremental read, the twin of ``DeltaLogTable.changes``: the
        data
        files ADDED by each snapshot in the parent chain
        (``since``, ``to``], one multi-path parquet read. Per the same
        adds-only contract: snapshots whose summary operation is
        ``replace`` (compaction — content unchanged) are SKIPPED;
        any other non-append operation, or a DELETED manifest entry
        committed inside the window, refuses — rebuild from
        ``snapshot()``. Carried-forward entries (``snapshot_id`` ≠
        the committing snapshot) are ignored: a later snapshot's
        manifests re-list older files as EXISTING and older deletes
        as DELETED, and neither is new information for the window.
        Entries with a null ``snapshot_id`` inherit the manifest's
        ``added_snapshot_id`` (the spec's inheritance rule) — without
        that, a reused manifest whose null-sid entries were counted
        once per walked snapshot would duplicate rows in the feed;
        when even that is absent (v1 inline form) attribution is
        impossible and the read REFUSES — a reused manifest would
        otherwise double-count across successive windows.

        ``since`` must be an ancestor of ``to`` along
        ``parent-snapshot-id`` — Iceberg history is a chain of
        snapshots, not versions, so the walk IS the window."""
        chain = self._window_chain(since_snapshot_id, to_snapshot_id)
        paths: list[str] = []
        for snap in chain:
            sid = snap["snapshot-id"]
            op = (snap.get("summary") or {}).get("operation", "append")
            if op == "replace":
                continue  # compaction traffic, content unchanged
            if op != "append":
                raise ValueError(
                    f"{self.path}: snapshot {sid} operation {op!r} inside "
                    f"the change window — the feed is adds-only; rebuild "
                    "from snapshot()"
                )
            for mpath, m_sid, m_content, _m_seq in self._manifests(snap):
                if m_content != 0:
                    # a delete manifest COMMITTED in the window is a row
                    # mutation — adds-only breach; one carried forward
                    # from at-or-before ``since`` predates every file
                    # the window adds (paths are immutable and unique,
                    # so its position deletes cannot reference them)
                    # and is not new information
                    if m_sid is None or m_sid == sid:
                        raise ValueError(
                            f"{self.path}: snapshot {sid} carries a delete "
                            "manifest inside the change window — the feed "
                            "is adds-only; rebuild from snapshot()"
                        )
                    continue
                for entry in AvroFileReader(mpath).records:
                    e_sid = entry.get("snapshot_id")
                    if e_sid is None:
                        if m_sid is None:
                            raise NotImplementedError(
                                f"{self.path}: manifest entry in {mpath} "
                                "has no snapshot_id and the v1 inline "
                                "manifest list carries no "
                                "added_snapshot_id to inherit — "
                                "attribution is impossible, and a reused "
                                "manifest would double-count; rebuild "
                                "from snapshot()"
                            )
                        e_sid = m_sid
                    if e_sid != sid:
                        continue  # carried forward from an older commit
                    status = entry.get("status", _EXISTING)
                    if status == _DELETED:
                        raise ValueError(
                            f"{self.path}: snapshot {sid} deleted "
                            f"{entry['data_file'].get('file_path')} inside "
                            "the change window — the feed is adds-only; "
                            "rebuild from snapshot()"
                        )
                    if status != _ADDED:
                        continue
                    df = entry["data_file"]
                    if df.get("content", 0) != 0:
                        raise NotImplementedError(
                            f"{self.path}: delete file "
                            f"{df.get('file_path')} — merge-on-read tables "
                            "need a full Iceberg client"
                        )
                    fmt = str(df.get("file_format", "PARQUET")).upper()
                    if fmt != "PARQUET":
                        raise NotImplementedError(
                            f"{self.path}: {fmt} data file — parquet scans "
                            "only"
                        )
                    paths.append(self._resolve(df["file_path"]))
        if not paths:
            return None
        out = sorted(set(paths))
        gone = [p for p in out if not os.path.exists(p)]
        if gone:
            raise ValueError(
                f"{self.path}: change window references data files absent "
                f"from this copy ({gone[:3]}…) — either maintenance "
                "expired them (consume within retention / rebuild from "
                "snapshot()) or their absolute URIs resolve outside this "
                "local table copy"
            )
        return spark.read.parquet(*out).drop(*_RESERVED_ROW_COLS)

    def _window_chain(
        self, since_snapshot_id: int | None, to_snapshot_id: int | None
    ) -> list[dict]:
        """Snapshots in (``since``, ``to``] oldest-first along the
        parent chain — iceberg history is a chain of snapshots, so the
        walk IS the window; a ``since`` that is not an ancestor
        refuses (no incremental path). ``since=None`` means the whole
        history from the root snapshot (the bootstrap window of an
        incremental consumer that has seen nothing yet)."""
        to_snap = self._snapshot(to_snapshot_id)
        chain: list[dict] = []
        cur = to_snap
        while cur["snapshot-id"] != since_snapshot_id:
            chain.append(cur)
            pid = cur.get("parent-snapshot-id")
            if pid is None:
                if since_snapshot_id is None:
                    break  # walked to the root: full history
                raise ValueError(
                    f"{self.path}: snapshot {since_snapshot_id} is not "
                    f"an ancestor of {to_snap['snapshot-id']} — no "
                    "incremental path between them"
                )
            cur = self._snapshot(pid)
        return list(reversed(chain))

    def _snapshot_delta(
        self, snap: dict
    ) -> tuple[
        list[tuple[str, str]],
        list[str],
        list[str],
        list[tuple[str, tuple[int, ...]]],
    ]:
        """The entries one snapshot COMMITTED, from its own manifest
        tree with the spec's snapshot-id inheritance: (added data
        files [(resolved, recorded uri)], removed data files, added
        position-delete files, added equality-delete files [(resolved,
        equality ids)]). Carried-forward entries (attributed to an
        older snapshot) are not new information and drop; entries with
        no attribution at all refuse — a reused manifest would
        double-count."""
        sid = snap["snapshot-id"]
        added: list[tuple[str, str]] = []
        removed: list[str] = []
        pos_d: list[str] = []
        eq_d: list[tuple[str, tuple[int, ...]]] = []
        dv_added: list[tuple[str, str | None, int | None, int | None]] = []
        for mpath, m_sid, _m_content, _m_seq in self._manifests(snap):
            for entry in AvroFileReader(mpath).records:
                e_sid = entry.get("snapshot_id")
                if e_sid is None:
                    if m_sid is None:
                        raise NotImplementedError(
                            f"{self.path}: manifest entry in {mpath} "
                            "has no snapshot_id and no inheritable "
                            "added_snapshot_id — attribution is "
                            "impossible; rebuild from snapshot()"
                        )
                    e_sid = m_sid
                if e_sid != sid:
                    continue
                status = self._check_status(entry)
                df = entry["data_file"]
                content = df.get("content", 0)
                if content == 0:
                    self._check_parquet(df, "data")
                    if status == _ADDED:
                        added.append(
                            (self._resolve(df["file_path"]),
                             df["file_path"])
                        )
                    elif status == _DELETED:
                        removed.append(self._resolve(df["file_path"]))
                elif status == _ADDED and content == 1:
                    if str(df.get("file_format", "")).upper() == "PUFFIN":
                        dv_added.append((
                            self._resolve(df["file_path"]),
                            df.get("referenced_data_file"),
                            df.get("content_offset"),
                            df.get("content_size_in_bytes"),
                        ))
                        continue
                    self._check_parquet(df, "position delete")
                    pos_d.append(self._resolve(df["file_path"]))
                elif status == _ADDED and content == 2:
                    self._check_parquet(df, "equality delete")
                    ids = df.get("equality_ids")
                    if not ids:
                        raise NotImplementedError(
                            f"{self.path}: equality delete "
                            f"{df.get('file_path')} lacks equality_ids "
                            "— its reach is undefined"
                        )
                    eq_d.append(
                        (self._resolve(df["file_path"]),
                         tuple(int(i) for i in ids))
                    )
        return added, removed, pos_d, eq_d, dv_added

    def changes_cdf(
        self,
        spark: SparkSession,
        since_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """ROW-LEVEL change feed for snapshots (``since``, ``to``] —
        the iceberg twin of ``DeltaLogTable.changes_cdf``,
        Delta CDF's shape: the table columns plus ``_change_type``
        (insert / delete / update_preimage / update_postimage) and
        ``_commit_version`` (the snapshot id). Where ``changes`` (the
        adds-only fast path) refuses any mutating snapshot, this feed
        RESOLVES every write shape this repo's writer (and conformant
        engines) commit:

        - ``append`` → its added files' rows as ``insert`` (no diff);
        - ``replace`` (compaction / purge) → skipped, content
          unchanged;
        - COW mutation (status-DELETED entries + rewrites) → multiset
          EXCEPT ALL of removed∖added and added∖removed — carried-
          through rows cancel, so the feed is O(CHANGED rows), not
          O(rewritten rows); labeled update_preimage/update_postimage
          when the snapshot summary records updated/upserted records,
          delete/insert otherwise (Delta CDF's own labeling rule);
        - merge-on-read POSITION deletes → the delete files' (uri,
          pos) rows name the preimages exactly: one scan of just the
          referenced data files inner-joined on the spec's row
          identity (writers only position-delete LIVE rows — the
          invariant this repo's writer enforces by probing
          merge-on-read);
        - EQUALITY-delete upserts → preimages are the PARENT
          snapshot's rows matching the delete keys (``snapshot(
          parent)`` applies all earlier strata, so an already-deleted
          row never re-emits), postimages the batch the commit landed
          beside; keys that were pure inserts simply have no preimage
          row. Cost: one parent-snapshot scan per upsert commit with
          a broadcast key semi-join — the price of key-addressed
          deletes carrying no positional info (the same scan the
          engines' changelog procedures run).

        Retention contract: the window needs the referenced bytes —
        files ``expire_snapshots`` already reclaimed refuse loudly;
        rebuild the consumer from ``snapshot()``. Returns None when
        the window changes nothing."""
        from pyspark.sql import functions as F

        chain = self._window_chain(since_snapshot_id, to_snapshot_id)
        frames: list[DataFrame] = []
        by_id = self._field_names_by_id()
        for snap in chain:
            sid = snap["snapshot-id"]
            summ = snap.get("summary") or {}
            op = summ.get("operation", "append")
            if op == "replace":
                continue
            added, removed, pos_d, eq_d, dv_added = (
                self._snapshot_delta(snap)
            )
            if not (added or removed or pos_d or eq_d or dv_added):
                continue
            gone = [
                p for p in (
                    [a for a, _u in added] + removed + pos_d
                    + [p for p, _i in eq_d]
                    + [p for p, _r, _o, _s in dv_added]
                )
                if not os.path.exists(p)
            ]
            if gone:
                raise ValueError(
                    f"{self.path}: change window references files "
                    f"expire_snapshots already reclaimed ({gone[:3]}…)"
                    " — row-level changes need the bytes; consume "
                    "within retention or rebuild from snapshot()"
                )
            # a present key with a zero count is no update: the v3
            # deletion-vector MERGE records "updated-records": "0"
            # for a MERGE … THEN DELETE
            is_update = any(
                int(summ.get(k, 0)) > 0
                for k in ("updated-records", "upserted-records")
            )
            pre_l, post_l = (
                ("update_preimage", "update_postimage")
                if is_update else ("delete", "insert")
            )
            ver = F.lit(sid).cast("long")

            def tag(df, label):
                return df.withColumn(
                    "_change_type", F.lit(label)
                ).withColumn("_commit_version", ver)

            add_df = (
                spark.read.parquet(*[p for p, _u in added])
                .drop(*_RESERVED_ROW_COLS)
                if added else None
            )
            if pos_d or eq_d or dv_added:
                parent = snap.get("parent-snapshot-id")
                if parent is None:
                    raise ValueError(
                        f"{self.path}: snapshot {sid} carries delete "
                        "files but no parent — preimages are "
                        "underivable; rebuild from snapshot()"
                    )
                if dv_added:
                    # v3 deletion-vector flip: the commit replaced a
                    # data file's DV with a superset — the preimages
                    # are exactly the NEWLY deleted positions (new DV
                    # minus the parent snapshot's DV for the same
                    # file). Decoding both sides driver-side keeps
                    # this O(changed positions) in metadata plus ONE
                    # bounded scan of just the referenced files.
                    new_map = self._dv_positions_map(dv_added)
                    old_map = self._dv_positions_map(
                        self._files(parent)[3]
                    )
                    flip_rows: list[tuple[str, int]] = []
                    for uri, new_pos in new_map.items():
                        old = set(old_map.get(uri, []))
                        new = set(new_pos)
                        if not old <= new:
                            raise ValueError(
                                f"{self.path}: snapshot {sid} replaced "
                                f"the DV for {uri} with a NON-superset "
                                "— that resurrects deleted rows, which "
                                "the v3 spec forbids; corrupt history"
                            )
                        flip_rows += [(uri, p) for p in sorted(new - old)]
                    if flip_rows:
                        uris = sorted({u for u, _p in flip_rows})
                        resolved = [self._resolve(u) for u in uris]
                        missing = [p for p in resolved
                                   if not os.path.exists(p)]
                        if missing:
                            raise ValueError(
                                f"{self.path}: deletion vectors "
                                f"reference reclaimed files "
                                f"({missing[:3]}…) — consume within "
                                "retention"
                            )
                        dels = spark.createDataFrame(
                            flip_rows, "__uri string, __pos long"
                        )
                        src = spark.read.parquet(*resolved).select(
                            "*",
                            F.col("_metadata.file_path").alias("__fp"),
                            F.col("_metadata.row_index").alias("__pos"),
                        )
                        src = src.withColumn(
                            "__lp", local_path(F.col("__fp"))
                        )
                        lp_map = spark.createDataFrame(
                            list(zip(resolved, uris)),
                            "__lp string, __uri string",
                        )
                        pre = (
                            src.join(F.broadcast(lp_map), "__lp", "inner")
                            .join(F.broadcast(dels), ["__uri", "__pos"],
                                  "inner")
                            .drop("__fp", "__lp", "__uri", "__pos",
                                  *_RESERVED_ROW_COLS)
                        )
                        frames.append(tag(pre, pre_l))
                if pos_d:
                    dels = spark.read.parquet(*pos_d).select(
                        F.col("file_path").alias("__uri"),
                        F.col("pos").cast("long").alias("__pos"),
                    ).dropDuplicates()
                    uris = sorted({
                        r["__uri"]
                        for r in dels.select("__uri")
                        .dropDuplicates().collect()
                    })
                    resolved = [self._resolve(u) for u in uris]
                    missing = [p for p in resolved
                               if not os.path.exists(p)]
                    if missing:
                        raise ValueError(
                            f"{self.path}: position deletes reference "
                            f"reclaimed files ({missing[:3]}…) — "
                            "consume within retention"
                        )
                    src = spark.read.parquet(*resolved).select(
                        "*",
                        F.col("_metadata.file_path").alias("__fp"),
                        F.col("_metadata.row_index").alias("__pos"),
                    )
                    src = src.withColumn("__lp", local_path(F.col("__fp")))
                    mapping = spark.createDataFrame(
                        list(zip(resolved, uris)),
                        "__lp string, __uri string",
                    )
                    pre = (
                        src.join(F.broadcast(mapping), "__lp", "inner")
                        .join(F.broadcast(dels), ["__uri", "__pos"],
                              "inner")
                        .drop("__fp", "__lp", "__uri", "__pos",
                              *_RESERVED_ROW_COLS)
                    )
                    frames.append(tag(pre, pre_l))
                if eq_d:
                    groups = {}
                    for p, ids in eq_d:
                        groups.setdefault(ids, []).append(p)
                    if len(groups) > 1:
                        raise NotImplementedError(
                            f"{self.path}: snapshot {sid} carries "
                            "equality deletes over MULTIPLE id sets — "
                            "this feed derives preimages per key "
                            "shape; use a full Iceberg client"
                        )
                    (ids, dpaths), = groups.items()
                    missing_ids = [i for i in ids if i not in by_id]
                    if missing_ids:
                        raise NotImplementedError(
                            f"{self.path}: equality_ids {missing_ids} "
                            "name nested/unknown fields"
                        )
                    names = [by_id[i] for i in ids]
                    keys = spark.read.parquet(*dpaths).select(
                        *[F.col(c).alias(f"__eq_{c}") for c in names]
                    ).dropDuplicates()
                    try:
                        par = self.snapshot(spark, parent)
                    except ValueError as exc:
                        # a parent with ZERO data files (everything
                        # previously deleted) has no preimages at all
                        # — postimage-only changes, not an error.
                        # Anything else (parent EXPIRED out of the
                        # metadata, corrupt tree) must stay loud:
                        # swallowing it would silently drop preimages
                        if "no data files" not in str(exc):
                            raise
                        par = None
                    if par is not None:
                        cond = None
                        for c in names:
                            e = par[c].eqNullSafe(keys[f"__eq_{c}"])
                            cond = e if cond is None else (cond & e)
                        pre = par.join(
                            F.broadcast(keys), cond, "left_semi"
                        )
                        frames.append(tag(pre, pre_l))
            # the COW algebra runs for EVERY snapshot with removed
            # files — including MIXED merge-on-read commits (a
            # conformant engine's MoR DELETE marks fully-matched
            # files status-DELETED and position-deletes the partial
            # ones in ONE snapshot); handling only the delete files
            # would silently drop the wholly-removed files' preimages
            if removed:
                r_df = spark.read.parquet(*removed).drop(
                    *_RESERVED_ROW_COLS
                )
                a_df = (
                    add_df if add_df is not None else r_df.limit(0)
                )
                frames.append(tag(r_df.exceptAll(a_df), pre_l))
                frames.append(tag(a_df.exceptAll(r_df), post_l))
            elif add_df is not None:
                frames.append(tag(
                    add_df,
                    post_l if (pos_d or eq_d or dv_added) else "insert",
                ))
        if not frames:
            return None
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    # -- reads ---------------------------------------------------------

    def snapshot(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        skip: list[tuple] | None = None,
    ) -> DataFrame:
        """Scan the (possibly time-traveled) snapshot as one multi-path
        parquet read — distributed, prunable, same as every client.

        v2 POSITION DELETES are applied: a merge-on-read snapshot's
        delete files are parquet rows of (file_path, pos) naming exact
        (data file URI, row ordinal) pairs, so the scan reads the data
        files with Spark's ``_metadata.file_path`` / ``row_index``
        hidden columns and LEFT ANTI-joins the delete set on both —
        the same plan every MoR-capable engine executes. Matching is
        safe without sequence-number bookkeeping because data file
        paths are immutable and unique: a position delete can only
        ever reference the one file it names, and a compaction that
        rewrites the file drops both it and its deletes from the new
        snapshot's manifests. Scale shape: data stays one distributed
        pruned read; the delete set is a second (usually tiny) read,
        and the anti-join broadcasts when small — AQE's call; the
        file-count-sized URI mapping (local path → recorded URI, which
        the delete rows reference) is broadcast explicitly.

        v2 EQUALITY DELETES are applied too (round-11; previously a
        refusal): each equality delete file carries rows of values for
        the columns its ``equality_ids`` name, and per the spec deletes
        every matching row in data files with STRICTLY LOWER data
        sequence numbers (so a re-insert of the same key in a LATER
        file survives). Lowering: data rows carry their file's sequence
        number via the same broadcast file mapping, and each
        (sequence, ids) delete stratum becomes one LEFT ANTI join with
        null-safe equality on the named columns plus ``data_seq <
        delete_seq`` — delete sets are usually tiny, so AQE broadcasts
        them. Refusals narrowed to genuinely unorderable inputs: a
        delete file with no sequence number / no equality_ids, a data
        file with no resolvable sequence number under a live equality
        delete, or equality_ids naming nested/unknown fields.

        A raw path list for a snapshot with any deletes refuses
        (``live_paths``) — scanning it would resurrect deleted rows."""
        data, pos_deletes, eq_deletes, dvs = self._files(snapshot_id)
        if not data:
            raise ValueError(
                f"iceberg table {self.path} has no data files at snapshot "
                f"{snapshot_id if snapshot_id is not None else 'current'}"
            )
        kept = self._pruned_paths(snapshot_id, skip)
        if kept is not None:
            pruned = [e for e in data if e[0] in kept]
            if not pruned:
                # everything pruned: an empty frame under the table
                # shape, read from one surviving file's footer (no
                # data scanned)
                return spark.read.parquet(data[0][0]).limit(0).drop(
                    *_RESERVED_ROW_COLS
                )
            data = pruned
        paths = [p for p, _u, _s in data]
        if not pos_deletes and not eq_deletes and not dvs:
            # lineage-materialized files (a v3 rewrite's _row_id /
            # _last_updated_sequence_number columns) stay METADATA —
            # the user-facing snapshot never surfaces reserved columns
            return spark.read.parquet(*paths).drop(*_RESERVED_ROW_COLS)
        from pyspark.sql import functions as F

        if eq_deletes:
            unseq = [p for p, _u, s in data if s is None]
            if unseq:
                raise NotImplementedError(
                    f"{self.path}: equality deletes are live but data "
                    f"file(s) {unseq[:3]} have no resolvable sequence "
                    "number — ordering them is impossible; use a full "
                    "Iceberg client"
                )
        for dp in pos_deletes:  # loud schema check beats an analysis error
            import pyarrow.parquet as pq

            names = pq.ParquetFile(dp).schema_arrow.names
            if not {"file_path", "pos"} <= set(names):
                raise ValueError(
                    f"{self.path}: position delete file {dp} lacks the "
                    f"spec columns file_path/pos (has {names})"
                )
        df = spark.read.parquet(*paths).select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        # the normalized path must equal the mapping's plain local
        # path: a mismatch matches nothing in the inner join below —
        # whole-file loss, not just unapplied deletes
        df = df.withColumn("__lp", local_path(F.col("__fp")))
        mapping = spark.createDataFrame(
            [(p, u, s) for p, u, s in data],
            "__lp string, __uri string, __seq long",
        )
        cols = [
            c for c in df.columns
            if c not in ("__fp", "__pos", "__lp")
            and c not in _RESERVED_ROW_COLS
        ]
        df = df.join(F.broadcast(mapping), "__lp", "inner")
        del_frames = []
        if pos_deletes:
            del_frames.append(spark.read.parquet(*pos_deletes).select(
                F.col("file_path").alias("__uri"),
                F.col("pos").cast("long").alias("__pos"),
            ))
        if dvs:
            # v3 deletion vectors: driver-decoded roaring positions
            # (a DV is KBs of metadata, same budget as the Delta DV
            # path) joined exactly like position-delete rows
            rows = [
                (u, int(p))
                for u, ps in self._dv_positions_map(dvs).items()
                for p in ps
            ]
            del_frames.append(spark.createDataFrame(
                rows, "__uri string, __pos long"
            ))
        if del_frames:
            dels = del_frames[0]
            for extra in del_frames[1:]:
                dels = dels.unionByName(extra)
            df = df.join(dels, ["__uri", "__pos"], "left_anti")
        if eq_deletes:
            df = apply_equality_strata(
                spark, df, eq_deletes, self._field_names_by_id(),
                self.path,
            )
        return df.select(*cols)


class IcebergViewBase:
    """Adapts an Iceberg table to ``IncrementalAggView``'s base
    contract (round-13 verdict missing item 4). The view's watermark
    must be MONOTONIC; Iceberg snapshot ids are random on foreign
    tables, so versions here are the spec's SEQUENCE NUMBERS
    (strictly increasing per commit on the main branch), mapped back
    to snapshot ids through the current ancestor chain exactly where
    a feed call needs one.

    Contract surface (duck-typed by ``IncrementalAggView.refresh`` /
    ``rebuild``):

    - ``latest_version()`` — the current snapshot's sequence number
      (-1 on an empty table, matching a ``DeltaLogTable`` base);
    - ``_window_has_dc_removes(lo, hi)`` — True when any snapshot in
      the window declares a non-append, non-replace operation (the
      spec REQUIRES ``summary.operation``), routing the refresh to
      the signed row-level feed; ``replace`` (compaction) stays on
      the adds-only path, which skips it;
    - ``changes`` / ``changes_cdf`` / ``snapshot`` — delegate to
      ``IcebergTable`` with sequence numbers resolved to snapshot
      ids; a watermark no longer on the ancestor chain (history
      rewritten under the view) refuses loudly rather than guessing.

    Metadata is re-read per call (one JSON file — the same freshness
    discipline as the Delta base re-reading ``_last_checkpoint``):
    the base advances under a long-lived view object.

    Format-version 1 refuses: v1 predates sequence numbers (every
    snapshot reads seq 0), so no monotonic watermark exists —
    silently keying on timestamps or ids would double- or skip-fold.
    """

    def __init__(self, path: str):
        self.path = path
        t = IcebergTable(path)  # validates layout + format-version
        if int(t.meta.get("format-version", 1) or 1) < 2:
            raise NotImplementedError(
                f"{path}: format-version 1 has no sequence numbers — "
                "no monotonic watermark exists for an incremental "
                "view; upgrade the table to v2+"
            )

    def _table(self) -> IcebergTable:
        return IcebergTable(self.path)

    @staticmethod
    def _seq(snap: dict) -> int:
        return int(snap.get("sequence-number", 0) or 0)

    def latest_version(self) -> int:
        t = self._table()
        if t.meta.get("current-snapshot-id") in (None, -1):
            return -1
        return self._seq(t._snapshot(None))

    def _ancestors(self, t: IcebergTable) -> list[dict]:
        """Current snapshot's ancestor chain, oldest-first."""
        chain: list[dict] = []
        cur: dict | None = t._snapshot(None)
        while cur is not None:
            chain.append(cur)
            pid = cur.get("parent-snapshot-id")
            cur = t._snapshot(pid) if pid is not None else None
        return list(reversed(chain))

    def _sid_at(self, t: IcebergTable, seq: int) -> int | None:
        """The ancestor snapshot id at sequence number ``seq`` — None
        when ``seq`` predates the root (bootstrap window). A positive
        watermark with NO exact ancestor match refuses: the history
        was rewritten (rollback / branch switch) and any guess would
        double- or skip-fold rows."""
        chain = self._ancestors(t)
        if not chain or seq < self._seq(chain[0]):
            return None
        for snap in chain:
            if self._seq(snap) == seq:
                return snap["snapshot-id"]
        raise ValueError(
            f"{self.path}: no ancestor snapshot has sequence number "
            f"{seq} — the table history was rewritten under the view; "
            "rebuild() from the snapshot"
        )

    def _window_has_dc_removes(self, since: int, to: int) -> bool:
        t = self._table()
        lo = self._sid_at(t, since)
        hi = self._sid_at(t, to)
        for snap in t._window_chain(lo, hi):
            op = (snap.get("summary") or {}).get("operation", "append")
            if op not in ("append", "replace"):
                return True
        return False

    def changes(self, spark, since: int, to: int | None = None):
        t = self._table()
        return t.changes(
            spark, self._sid_at(t, since),
            None if to is None else self._sid_at(t, to),
        )

    def changes_cdf(self, spark, since: int, to: int | None = None):
        t = self._table()
        return t.changes_cdf(
            spark, self._sid_at(t, since),
            None if to is None else self._sid_at(t, to),
        )

    def snapshot(self, spark, version: int | None = None):
        t = self._table()
        return t.snapshot(
            spark,
            snapshot_id=None if version is None
            else self._sid_at(t, version),
        )
