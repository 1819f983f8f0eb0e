"""Compressed Avro manifests: the Iceberg manifest read path
(``AvroFileReader``) decodes zstandard- and snappy-coded blocks through
pyarrow's bundled codecs and refuses blocks that do not decode.

Every block the tests read was produced by an INDEPENDENT compressor —
pyarrow's libzstd/snappy and the zstd CLI at levels 1-19 — and spliced
into a container by byte-level surgery, so no reader code writes a byte
the reader later decodes. The end-to-end tests recode a real Iceberg
table's Avro metadata (what Java, Rust and Go manifest writers emit)
and scan it back through ``IcebergTable``."""

import json
import os
import random
import shutil
import subprocess
import zlib

import pyarrow as pa
import pytest

from algebraicdb_spark.operators.iceberg import AvroFileReader
from algebraicdb_spark.operators.iceberg_writer import (
    AvroFileWriter,
    _manifest_schema,
)

# Three tests shell out to the standalone zstd CLI as a SECOND
# independent compressor (pyarrow's bundled libzstd is the first);
# sandboxes without the binary still run the libzstd round-trips.
needs_zstd_cli = pytest.mark.skipif(
    shutil.which("zstd") is None, reason="zstd CLI not installed"
)

_BYTES = {"type": "record", "name": "blob",
          "fields": [{"name": "b", "type": "bytes"}]}


def _zc(data: bytes) -> bytes:
    return pa.Codec("zstd").compress(data, asbytes=True)


def _snappy(data: bytes) -> bytes:
    """Avro's snappy framing: a raw snappy block + the big-endian CRC32
    of the uncompressed data."""
    return pa.Codec("snappy").compress(data, asbytes=True) + (
        zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big")


def _cli(tmp_path, data: bytes, level: str) -> bytes:
    """A zstd CLI frame (content checksum on, as the CLI writes it)."""
    src = tmp_path / f"in{level}"
    src.write_bytes(data)
    out = tmp_path / f"in{level}.zst"
    subprocess.run(["zstd", level, "-f", "-q", str(src), "-o", str(out)],
                   check=True)
    return out.read_bytes()


def _blob_container(tmp_path, data: bytes, compress,
                    codec: bytes = b"zstandard") -> str:
    """A one-record Avro container holding ``data``, its block payload
    replaced by ``compress(payload)``."""
    p = str(tmp_path / f"blob{len(os.listdir(tmp_path))}.avro")
    AvroFileWriter.write(p, _BYTES, [{"b": data}])
    _recode_avro(p, codec, compress)
    return p


def _read_blob(path: str) -> bytes:
    return bytes(AvroFileReader(path).records[0]["b"])


class TestZstdFrames:
    def test_round_trips_against_libzstd(self, tmp_path):
        random.seed(13)
        cases = [
            b"",
            b"x",
            b"hello world " * 200,                # predefined FSE tables
            bytes(range(256)) * 40,               # written FSE tables
            os.urandom(4096),                     # raw blocks
            b"\x00" * 65536,                      # RLE block
            bytes(random.choice(b"abcdef") for _ in range(150000)),
            json.dumps(
                [{"k": i, "n": f"u{i % 97}"} for i in range(20000)]
            ).encode(),                           # 4-stream literals
        ]
        for i, d in enumerate(cases):
            assert _read_blob(_blob_container(tmp_path, d, _zc)) == d, \
                f"case {i}"

    @needs_zstd_cli
    def test_round_trips_against_the_cli_at_high_levels(self, tmp_path):
        """Level 19 exercises repeat-mode tables, treeless literals,
        and long matches; the CLI also writes content checksums, which
        the reader must verify."""
        data = (
            open("algebraicdb_spark/operators/txnlog.py", "rb").read()
            + os.urandom(1000)
        )
        for lvl in ("-1", "-19"):
            p = _blob_container(
                tmp_path, data, lambda b, lvl=lvl: _cli(tmp_path, b, lvl))
            assert _read_blob(p) == data

    @needs_zstd_cli
    def test_checksum_detects_corruption(self, tmp_path):
        def corrupt(b: bytes) -> bytes:
            comp = bytearray(_cli(tmp_path, b, "-3"))
            comp[len(comp) // 2] ^= 0x40
            return bytes(comp)

        p = _blob_container(
            tmp_path, b"the spammish repetition " * 4000, corrupt)
        with pytest.raises(ValueError, match="zstandard avro block"):
            AvroFileReader(p)

    def test_multi_frame_and_skippable(self, tmp_path):
        """Frames written by a streaming compressor: two frames (no
        content size in the second) around a skippable frame."""
        skippable = (
            (0x184D2A50).to_bytes(4, "little")
            + (7).to_bytes(4, "little") + b"ignored"
        )

        def frames(b: bytes) -> bytes:
            sink = pa.BufferOutputStream()
            with pa.CompressedOutputStream(sink, "zstd") as z:
                z.write(b[len(b) // 2:])
            return _zc(b[: len(b) // 2]) + skippable + \
                sink.getvalue().to_pybytes()

        data = b"first frame " * 50 + b"second frame " * 50
        assert _read_blob(_blob_container(tmp_path, data, frames)) == data

    def test_dictionary_frames_refuse(self, tmp_path):
        # hand-build a frame header demanding dictionary id 7:
        # magic + FHD(did_flag=1) + window + did byte
        frame = (
            (0xFD2FB528).to_bytes(4, "little")
            + bytes([0x01, 0x00, 0x07])
        )
        p = _blob_container(tmp_path, b"x", lambda _b: frame)
        with pytest.raises(ValueError, match="zstandard avro block"):
            AvroFileReader(p)

    @needs_zstd_cli
    def test_xxhash64_against_libzstd_checksums(self, tmp_path):
        """The CLI's 4-byte content checksum (xxhash64 of the content)
        is verified: a frame whose checksum trailer alone is flipped
        refuses, while the untouched frame reads back."""
        data = b"Nobody inspects the spammish repetition" * 37

        def flip_checksum(b: bytes) -> bytes:
            comp = bytearray(_cli(tmp_path, b, "-3"))
            comp[-1] ^= 0x01
            return bytes(comp)

        ok = _blob_container(tmp_path, data, lambda b: _cli(tmp_path, b, "-3"))
        assert _read_blob(ok) == data
        bad = _blob_container(tmp_path, data, flip_checksum)
        with pytest.raises(ValueError, match="zstandard avro block"):
            AvroFileReader(bad)


class TestSnappyBlocks:
    def test_snappy_blocks_round_trip(self, tmp_path):
        for d in (b"", b"abc" * 1000, os.urandom(5000)):
            p = _blob_container(tmp_path, d, _snappy, codec=b"snappy")
            assert _read_blob(p) == d

    def test_corrupt_snappy_block_refuses(self, tmp_path):
        def corrupt(b: bytes) -> bytes:
            comp = bytearray(_snappy(b))
            comp[len(comp) // 2] ^= 0xFF
            return bytes(comp)

        p = _blob_container(tmp_path, b"abcdefgh" * 400, corrupt,
                            codec=b"snappy")
        with pytest.raises(ValueError, match="snappy avro block"):
            AvroFileReader(p)


def _recode_avro(path: str, codec: bytes = b"zstandard",
                 compress=_zc) -> None:
    """Rewrite an Avro object-container file in place with
    ``avro.codec: <codec>``, each block payload replaced by
    ``compress(payload)`` — byte-level surgery (magic, metadata map,
    sync, blocks) so no reader code writes any byte the reader later
    reads."""
    raw = open(path, "rb").read()
    pos = 4
    assert raw[:4] == b"Obj\x01"

    def zz_read(p):
        shift = acc = 0
        while True:
            b = raw[p]
            p += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1), p

    def zz(n: int) -> bytes:
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

    meta = {}
    while True:
        n, pos = zz_read(pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _sz, pos = zz_read(pos)
        for _ in range(n):
            kl, pos = zz_read(pos)
            k = raw[pos:pos + kl]
            pos += kl
            vl, pos = zz_read(pos)
            meta[k] = raw[pos:pos + vl]
            pos += vl
    sync = raw[pos:pos + 16]
    pos += 16
    assert meta.get(b"avro.codec", b"null") == b"null"
    meta[b"avro.codec"] = codec
    out = bytearray(b"Obj\x01")
    out += zz(len(meta))
    for k, v in meta.items():
        out += zz(len(k)) + k + zz(len(v)) + v
    out += zz(0)
    out += sync
    while pos < len(raw):
        n_rec, pos = zz_read(pos)
        n_bytes, pos = zz_read(pos)
        payload = raw[pos:pos + n_bytes]
        pos += n_bytes
        assert raw[pos:pos + 16] == sync
        pos += 16
        comp = payload if codec == b"lz4" else compress(payload)
        out += zz(n_rec) + zz(len(comp)) + comp + sync
    with open(path, "wb") as f:
        f.write(out)


class TestZstdManifests:
    def test_iceberg_table_with_zstd_metadata_scans(self, spark, tmp_path):
        from algebraicdb_spark.operators.iceberg import IcebergTable
        from algebraicdb_spark.operators.iceberg_writer import (
            IcebergTableWriter,
        )

        root = str(tmp_path / "z")
        w = IcebergTableWriter(root)
        w.append(spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "k long, v double",
        ).coalesce(1))
        w.delete(spark, "k = 3")
        # recode EVERY avro in the metadata dir (manifest lists AND
        # manifests), alternating the zstd and snappy codecs
        recoded = 0
        for fn in sorted(os.listdir(os.path.join(root, "metadata"))):
            if fn.endswith(".avro"):
                codec, comp = ((b"zstandard", _zc), (b"snappy", _snappy))[
                    recoded % 2]
                _recode_avro(os.path.join(root, "metadata", fn), codec, comp)
                recoded += 1
        assert recoded >= 3
        t = IcebergTable(root)
        snap = t.snapshot(spark)
        assert sorted(r["k"] for r in snap.collect()) == [
            0, 1, 2, 4, 5, 6, 7,
        ]
        # the change feed walks the same zstd-coded manifests
        first = t.snapshots()[0]["snapshot-id"]
        feed = t.changes_cdf(spark, first)
        assert sorted(
            (r["k"], r["_change_type"]) for r in feed.collect()
        ) == [(3, "delete")]

    def test_unknown_codec_still_refuses(self, spark, tmp_path):
        p = str(tmp_path / "m.avro")
        AvroFileWriter.write(p, _manifest_schema([]), [])
        _recode_avro(p, codec=b"lz4")
        with pytest.raises(NotImplementedError, match="lz4"):
            AvroFileReader(p)
