"""Minimal ORC file-tail metadata parser (pure Python).

Purpose: Apache Iceberg stores each column's field id as the ORC type
attribute ``iceberg.id`` (Iceberg spec, Appendix A: ORC), but pyarrow's
ORC reader does not expose type attributes — so the jar-free Iceberg
reader (:mod:`.iceberg`) parses just enough of the PUBLIC ORC v1
specification (https://orc.apache.org/specification/ORCv1/) to recover
the top-level ``(column name, field id)`` pairs per file:

- tail layout: ``... footer | postscript | 1-byte postscript length``;
- postscript protobuf (never compressed): ``footerLength = 1``,
  ``compression = 2`` (0 NONE, 1 ZLIB, 2 SNAPPY, 3 LZO, 4 LZ4, 5 ZSTD);
- footer protobuf: ``types = 4`` (repeated ``Type``, pre-order — the
  root struct is ``types[0]``);
- ``Type`` protobuf: ``kind = 1``, ``subtypes = 2`` (uint32, packed or
  not), ``fieldNames = 3``, ``attributes = 7`` (ORC-522;
  ``StringPair { key = 1; value = 2 }``).

Compressed footers are chunked streams: 3-byte little-endian header
``(chunkLength << 1) | isOriginal`` then the chunk.  NONE and ZLIB
(raw deflate) decode natively, SNAPPY via pyarrow (its raw format
leads with the uncompressed length); LZO/LZ4/ZSTD refuse loudly —
their raw blocks do not record a decompressed size and no native
codec wheel is in this image.  Only the file TAIL (KBs) is ever read —
never row data — so the per-file probe cost matches the parquet
footer probe.

Wire-format parsing is verified against pyarrow-written ORC files
(whose kind/subtypes/fieldNames pyarrow independently exposes) plus a
hand-built attributes fixture from the proto definition; see
``tests/test_orc_meta.py``.
"""

from __future__ import annotations

import struct
import zlib

__all__ = ["orc_top_fields", "orc_top_fields_from_url"]

_TAIL_GUESS = 16384


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7
        if shift > 70:
            raise ValueError("orc: varint too long")


def _pb_fields(buf: bytes):
    """Yield (field_number, wire_type, value) over a protobuf message.
    Wire types: 0 varint (int value), 2 length-delimited (bytes),
    5 fixed32, 1 fixed64."""
    pos = 0
    while pos < len(buf):
        tag, pos = _varint(buf, pos)
        fno, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _varint(buf, pos)
            yield fno, wt, v
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            yield fno, wt, buf[pos:pos + ln]
            pos += ln
        elif wt == 5:
            yield fno, wt, buf[pos:pos + 4]
            pos += 4
        elif wt == 1:
            yield fno, wt, buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"orc: unsupported protobuf wire type {wt}")


def _decompress(kind: int, raw: bytes) -> bytes:
    """Decode an ORC compressed stream (chunked; spec "Compression")."""
    if kind == 0:
        return raw
    out, pos = bytearray(), 0
    while pos < len(raw):
        h = int.from_bytes(raw[pos:pos + 3], "little")
        pos += 3
        ln, original = h >> 1, h & 1
        chunk = raw[pos:pos + ln]
        pos += ln
        if original:
            out += chunk
        elif kind == 1:
            out += zlib.decompress(chunk, -15)  # raw deflate per spec
        elif kind == 2:
            # snappy raw blocks lead with the uncompressed length as a
            # uvarint (snappy format description §1) — pyarrow's codec
            # needs it passed explicitly
            import pyarrow as pa

            n, _pos = _varint(chunk, 0)
            out += pa.Codec("snappy").decompress(
                chunk, decompressed_size=n).to_pybytes()
        else:
            # LZO (3) has no wheel in this image; LZ4 (4) / ZSTD (5) raw
            # blocks do not record their decompressed size and pyarrow's
            # raw codecs require it exactly — refuse rather than guess
            raise NotImplementedError(
                f"orc: footer compression kind {kind} "
                "(3=LZO, 4=LZ4, 5=ZSTD) is not decodable without the "
                "native codec library; rewrite with zlib/snappy or add "
                "the ORC connector"
            )
    return bytes(out)


def _packed_or_repeated_uints(entries, fno: int) -> list[int]:
    """A repeated uint32 field arrives either packed (one bytes blob of
    varints) or as repeated varint entries — accept both."""
    out = []
    for f, wt, v in entries:
        if f != fno:
            continue
        if wt == 0:
            out.append(int(v))
        elif wt == 2:
            pos = 0
            while pos < len(v):
                x, pos = _varint(v, pos)
                out.append(x)
    return out


def _parse_type(buf: bytes) -> dict:
    entries = list(_pb_fields(buf))
    attrs = {}
    for f, wt, v in entries:
        if f == 7 and wt == 2:
            k = val = None
            for sf, swt, sv in _pb_fields(v):
                if sf == 1 and swt == 2:
                    k = sv.decode("utf-8")
                elif sf == 2 and swt == 2:
                    val = sv.decode("utf-8")
            if k is not None:
                attrs[k] = val
    return {
        "kind": next((v for f, wt, v in entries if f == 1 and wt == 0), 0),
        "subtypes": _packed_or_repeated_uints(entries, 2),
        "field_names": [v.decode("utf-8") for f, wt, v in entries
                        if f == 3 and wt == 2],
        "attributes": attrs,
    }


def orc_top_fields(fh) -> list[tuple[str, int | None]]:
    """Top-level ``(name, iceberg.id-or-None)`` pairs of an ORC file's
    root struct, from a seekable binary file object.  Reads only the
    tail (postscript + footer)."""
    fh.seek(0, 2)
    size = fh.tell()
    if size < 4:
        raise ValueError("orc: file too small")
    n = min(size, _TAIL_GUESS)
    fh.seek(size - n)
    tail = fh.read(n)
    ps_len = tail[-1]
    if ps_len + 1 > len(tail):
        raise ValueError("orc: truncated postscript")
    ps = {f: v for f, _wt, v in _pb_fields(tail[-1 - ps_len:-1])}
    if ps.get(8000) != b"ORC":
        raise ValueError("orc: postscript magic mismatch — not an ORC file")
    footer_len = int(ps.get(1, 0))
    comp = int(ps.get(2, 0))
    total = 1 + ps_len + footer_len
    if total > len(tail):
        fh.seek(size - total)
        tail = fh.read(total)
    raw = tail[-(1 + ps_len + footer_len):-(1 + ps_len)]
    footer = list(_pb_fields(_decompress(comp, raw)))
    types = [_parse_type(v) for f, wt, v in footer if f == 4 and wt == 2]
    if not types:
        raise ValueError("orc: footer carries no type tree")
    root = types[0]
    if root["kind"] != 12:  # STRUCT
        raise ValueError(
            f"orc: root type kind {root['kind']} is not a struct")
    out = []
    for name, st in zip(root["field_names"], root["subtypes"]):
        fid = None
        raw_id = types[st]["attributes"].get("iceberg.id") \
            if st < len(types) else None
        if raw_id is not None:
            try:
                fid = int(raw_id)
            except ValueError:
                fid = None
        out.append((name, fid))
    return out


def orc_top_fields_from_url(url: str) -> list[tuple[str, int | None]]:
    """Same, from a URL opened through :func:`.fsio.arrow_fs` (seekable
    input), exactly like the parquet footer probe.  Runs executor-side
    in the distributed probe."""
    from .fsio import arrow_fs

    filesystem, pth = arrow_fs(url)
    with filesystem.open_input_file(pth) as fh:
        return orc_top_fields(fh)
