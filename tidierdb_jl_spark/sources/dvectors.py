"""Delta deletion-vector decoding: Z85, RoaringBitmapArray, DV files.

Reference parity: the reference reads DV-bearing Delta tables through
DuckDB's delta extension (``/root/reference/src/TidierDB.jl:166-169``).
This module implements the public formats directly so the jar-free
reader (:mod:`.delta`) can apply row-level deletes:

- **Z85** (ZeroMQ Base85, https://rfc.zeromq.org/spec/32/): Delta
  encodes DV file UUIDs and inline DVs with it (PROTOCOL.md
  "Deletion Vector Descriptor Schema").
- **RoaringBitmapArray, "portable" serialization** (Delta PROTOCOL.md
  "Deletion Vector Format" + the public RoaringFormatSpec,
  https://github.com/RoaringBitmap/RoaringFormatSpec 64-bit
  extension): magic number, a count of non-empty 32-bit buckets, then
  for EACH bucket a 4-byte LE key followed by the standard 32-bit
  format (array / bitmap / run containers).  A 64-bit row index ``i``
  is deleted iff the bucket keyed ``i >> 32`` contains
  ``i & 0xFFFFFFFF``.
- **DV file framing** (PROTOCOL.md "Deletion Vector File Storage
  Format"): version byte 1, then per-DV at ``offset``: 4-byte
  big-endian length, the serialized bitmap, 4-byte big-endian CRC-32
  of the bitmap bytes.

Everything raises loudly on malformed input — a silently-misread DV
returns WRONG ROWS, which is the one thing a lakehouse reader must
never do.  The independent test encoder lives in
``tests/roaring_ref.py`` (the repo's codec strategy: decoder here,
spec-written encoder in the tests, agreement is the evidence).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "z85_decode",
    "z85_encode",
    "decode_roaring_array",
    "encode_roaring_array",
    "decode_dv_blob",
    "dv_file_relpath",
    "read_dv_from_bytes",
    "read_iceberg_dv_from_bytes",
]

# Iceberg v3 deletion-vector blob magic (spec "Deletion vectors": the
# Puffin blob is BE length, these 4 bytes, the SAME RoaringBitmapArray
# portable serialization Delta uses, then a BE CRC-32 of magic+bitmap)
_ICEBERG_DV_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}

_MAGIC = 1681511377  # RoaringBitmapArray portable-format magic
_SERIAL_COOKIE = 12347  # runs present; container count in upper 16 bits
_SERIAL_COOKIE_NO_RUN = 12346
_NO_OFFSET_THRESHOLD = 4


def z85_decode(s: str) -> bytes:
    """ZeroMQ Base85: 5 chars -> 4 bytes big-endian (spec 32/Z85)."""
    if len(s) % 5:
        raise ValueError(f"Z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i:i + 5]:
            try:
                v = v * 85 + _Z85_INDEX[c]
            except KeyError:
                raise ValueError(f"invalid Z85 character {c!r}") from None
        if v > 0xFFFFFFFF:
            raise ValueError(f"Z85 group {s[i:i+5]!r} overflows 32 bits")
        out += v.to_bytes(4, "big")
    return bytes(out)


def z85_encode(b: bytes) -> str:
    """ZeroMQ Base85: 4 bytes -> 5 chars (the exact complement of
    :func:`z85_decode`; round-trip asserted in the golden tests)."""
    if len(b) % 4:
        raise ValueError(f"Z85 input length {len(b)} not a multiple of 4")
    out = []
    for i in range(0, len(b), 4):
        v = int.from_bytes(b[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def _encode_rb32(vals: np.ndarray) -> bytes:
    """Sorted uint32 values -> one standard 32-bit RoaringBitmap
    (no-run cookie 12346: array containers <=4096 members, bitmap
    containers above — runs are an optional optimization the spec
    never requires; the in-repo decoder and RoaringBitmap both accept
    run-free streams)."""
    keys16 = (vals >> np.uint32(16)).astype(np.uint32)
    lows = (vals & np.uint32(0xFFFF)).astype(np.uint16)
    uk, starts = np.unique(keys16, return_index=True)
    bounds = list(starts) + [len(vals)]
    containers = []
    for i, k in enumerate(uk):
        lv = lows[bounds[i]:bounds[i + 1]]
        if len(lv) > 4096:
            words = np.zeros(1024, dtype="<u8")
            bits = np.zeros(65536, dtype=np.uint8)
            bits[lv] = 1
            words = np.packbits(bits, bitorder="little").view("<u8")
            body = words.tobytes()
        else:
            body = lv.astype("<u2").tobytes()
        containers.append((int(k), len(lv), body))
    head = struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, len(containers))
    desc = b"".join(struct.pack("<HH", k, card - 1)
                    for k, card, _ in containers)
    # offsets are relative to the bitmap's first byte (the cookie) and
    # ALWAYS present under the no-run cookie
    off0 = len(head) + len(desc) + 4 * len(containers)
    offsets, pos = [], off0
    for _k, _card, body in containers:
        offsets.append(pos)
        pos += len(body)
    offs = b"".join(struct.pack("<I", o) for o in offsets)
    return head + desc + offs + b"".join(b for *_x, b in containers)


def encode_roaring_array(indexes) -> bytes:
    """Row indexes (any int64 iterable) -> RoaringBitmapArray portable
    64-bit bytes (4-byte LE magic, 8-byte LE non-empty bucket count,
    per bucket a 4-byte LE key + standard 32-bit roaring) — the EXACT
    complement of :func:`decode_roaring_array`, which is pinned by
    hand-written spec bytes in ``tests/test_dvectors_golden.py``."""
    vals = np.unique(np.asarray(list(indexes), dtype=np.int64))
    if len(vals) and vals[0] < 0:
        raise ValueError("roaring array: negative row index")
    hi = (vals >> np.int64(32)).astype(np.int64)
    lo = (vals & np.int64(0xFFFFFFFF)).astype(np.uint32)
    uk, starts = np.unique(hi, return_index=True)
    bounds = list(starts) + [len(vals)]
    out = [struct.pack("<iq", _MAGIC, len(uk))]
    for i, k in enumerate(uk):
        out.append(struct.pack("<I", int(k)))
        out.append(_encode_rb32(lo[bounds[i]:bounds[i + 1]]))
    return b"".join(out)


def _decode_rb32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """One standard 32-bit RoaringBitmap starting at ``pos``; returns
    (sorted uint32 values, next position)."""
    start = pos
    (cookie,) = struct.unpack_from("<i", buf, pos)
    pos += 4
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        nbytes = (size + 7) // 8
        run_flags = buf[pos:pos + nbytes]
        pos += nbytes
        has_offsets = size >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (size,) = struct.unpack_from("<i", buf, pos)
        pos += 4
        run_flags = b"\x00" * ((size + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"roaring bitmap: unknown cookie {cookie}")
    keys = np.empty(size, dtype=np.uint32)
    cards = np.empty(size, dtype=np.int64)
    for i in range(size):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys[i], cards[i] = k, cm1 + 1
    if has_offsets:
        pos += 4 * size  # offsets are relative to `start`; we read inline
    parts = []
    for i in range(size):
        base = np.uint32(keys[i]) << np.uint32(16)
        is_run = bool(run_flags[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            vals = []
            for _ in range(n_runs):
                s0, ln = struct.unpack_from("<HH", buf, pos)
                pos += 4
                vals.append(np.arange(s0, s0 + ln + 1, dtype=np.uint32))
            v = (np.concatenate(vals) if vals
                 else np.empty(0, dtype=np.uint32))
        elif cards[i] > 4096:  # bitmap container: 1024 x uint64
            words = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            bits = np.unpackbits(
                words.view(np.uint8), bitorder="little"
            )
            v = np.nonzero(bits)[0].astype(np.uint32)
            if len(v) != cards[i]:
                raise ValueError(
                    f"roaring bitmap container {i}: header cardinality "
                    f"{cards[i]} != {len(v)} set bits"
                )
        else:  # array container
            v = np.frombuffer(
                buf, dtype="<u2", count=int(cards[i]), offset=pos
            ).astype(np.uint32)
            pos += 2 * int(cards[i])
        parts.append(base | v)
    out = (np.concatenate(parts) if parts
           else np.empty(0, dtype=np.uint32))
    return out, pos


def decode_roaring_array(data: bytes) -> np.ndarray:
    """RoaringBitmapArray (portable 64-bit) -> sorted int64 member array.

    Layout (Delta PROTOCOL.md "Deletion Vector Format" + the
    RoaringFormatSpec 64-bit extension): 4-byte LE magic, 8-byte LE
    count of 32-bit bitmaps (= the number of NON-EMPTY high-word
    buckets, not max-key+1), then for EACH bitmap a 4-byte LE key (the
    high 32 bits of its members) followed by the standard 32-bit
    roaring serialization.  Keys must be strictly increasing — real
    writers (delta-spark, RoaringBitmap's BitMap64) emit them sorted,
    and an out-of-order key means we are misreading the stream.
    """
    if len(data) < 12:
        raise ValueError(f"roaring array blob too short ({len(data)} bytes)")
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != _MAGIC:
        raise ValueError(
            f"roaring array: bad magic {magic} (expected {_MAGIC})"
        )
    (n,) = struct.unpack_from("<q", data, 4)
    if n < 0:
        raise ValueError(f"roaring array: negative bitmap count {n}")
    pos = 12
    parts = []
    prev_key = -1
    for _ in range(n):
        if pos + 4 > len(data):
            raise ValueError(
                "roaring array: truncated before a bucket key "
                f"(pos {pos}, {len(data)} bytes)"
            )
        (key,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if key <= prev_key:
            raise ValueError(
                f"roaring array: bucket key {key} not strictly greater "
                f"than previous key {prev_key} — misread stream"
            )
        if key > 0x7FFFFFFF:
            raise ValueError(
                f"roaring array: bucket key {key} puts members past "
                "int64 row-index range"
            )
        prev_key = key
        vals, pos = _decode_rb32(data, pos)
        parts.append((np.int64(key) << np.int64(32))
                     | vals.astype(np.int64))
    if pos != len(data):
        raise ValueError(
            f"roaring array: {len(data) - pos} trailing bytes after "
            f"{n} bitmaps — misread stream"
        )
    return (np.concatenate(parts) if parts
            else np.empty(0, dtype=np.int64))


def decode_dv_blob(data: bytes, cardinality: int | None = None) -> np.ndarray:
    """Serialized DV bitmap -> deleted row indexes, with the descriptor's
    cardinality cross-checked when given (a mismatch means a misread)."""
    out = decode_roaring_array(data)
    if cardinality is not None and len(out) != cardinality:
        raise ValueError(
            f"deletion vector decoded to {len(out)} rows but the log "
            f"descriptor says cardinality={cardinality}"
        )
    return out


def dv_file_relpath(path_or_inline: str) -> str:
    """storageType 'u': ``<randomPrefix><z85 UUID>`` -> the DV file's
    path relative to the table root (PROTOCOL.md: the last 20 chars are
    the Z85 UUID; anything before is an optional random prefix dir)."""
    if len(path_or_inline) < 20:
        raise ValueError(
            f"DV pathOrInlineDv {path_or_inline!r} shorter than a Z85 UUID"
        )
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    raw = z85_decode(enc)
    import uuid as _uuid

    u = _uuid.UUID(bytes=raw)
    name = f"deletion_vector_{u}.bin"
    return f"{prefix}/{name}" if prefix else name


def read_iceberg_dv_from_bytes(
    blob: bytes, offset: int, size: int, cardinality: int | None = None
) -> np.ndarray:
    """One Iceberg v3 deletion-vector blob from a Puffin file's bytes:
    at ``offset`` (the manifest's ``content_offset``): 4-byte BE length
    of (magic + vector), then the magic bytes D1 D3 39 64 appearing
    EXACTLY ONCE, immediately followed by the portable 64-bit roaring
    vector (count + per-bucket key + 32-bit bitmap), then 4-byte BE
    CRC-32 over magic + vector.  The magic IS Delta's LE magic
    1681511377 — magic + vector together equal Delta's DV
    serialization byte-for-byte (the v3 spec's deliberate interop), so
    the body decodes directly with :func:`decode_roaring_array`.
    ``size`` is the manifest's ``content_size_in_bytes`` (the whole
    blob).  Any mismatch — length, magic, CRC, cardinality — refuses
    loudly."""
    (ln,) = struct.unpack_from(">i", blob, offset)
    if size is not None and size != ln + 8:
        raise ValueError(
            f"iceberg DV at offset {offset}: content_size_in_bytes {size} "
            f"!= stored length {ln} + 8 (length+crc framing)"
        )
    body = blob[offset + 4:offset + 4 + ln]
    if len(body) != ln:
        raise ValueError(f"iceberg DV at offset {offset}: file truncated")
    if body[:4] != _ICEBERG_DV_MAGIC:
        raise ValueError(
            f"iceberg DV at offset {offset}: bad magic "
            f"{body[:4].hex()} (expected {_ICEBERG_DV_MAGIC.hex()})"
        )
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + ln)
    actual = zlib.crc32(body) & 0xFFFFFFFF
    if crc != actual:
        raise ValueError(
            f"iceberg DV at offset {offset}: CRC-32 mismatch "
            f"(stored {crc:#x}, computed {actual:#x})"
        )
    # body = magic + vector = Delta's serialization, which is exactly
    # what decode_roaring_array parses (it checks the magic itself).
    return decode_dv_blob(body, cardinality)


def read_dv_from_bytes(
    blob: bytes, offset: int, size: int, cardinality: int | None = None
) -> np.ndarray:
    """Extract + decode one DV from a DV *file*'s bytes: version byte 1
    at position 0; at ``offset``: 4-byte BE length (must equal the
    descriptor's sizeInBytes), data, 4-byte BE CRC-32 of the data."""
    if not blob or blob[0] != 1:
        raise ValueError(
            f"DV file format version {blob[0] if blob else '<empty>'} "
            "(expected 1)"
        )
    (stored_size,) = struct.unpack_from(">i", blob, offset)
    if stored_size != size:
        raise ValueError(
            f"DV at offset {offset}: stored size {stored_size} != "
            f"descriptor sizeInBytes {size}"
        )
    data = blob[offset + 4:offset + 4 + size]
    if len(data) != size:
        raise ValueError(f"DV at offset {offset}: file truncated")
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + size)
    actual = zlib.crc32(data) & 0xFFFFFFFF
    if crc != actual:
        raise ValueError(
            f"DV at offset {offset}: CRC-32 mismatch "
            f"(stored {crc:#x}, computed {actual:#x})"
        )
    return decode_dv_blob(data, cardinality)
