"""Roaring-bitmap deletion-vector codec — from the PUBLIC specs, no
third-party library:

- 32-bit Roaring bitmaps in the interoperable *portable* serialization
  (RoaringBitmap/RoaringFormatSpec): cookie 12346/12347, descriptive
  header, optional offset header, array / bitmap / run containers.
  This codec WRITES array+bitmap containers (cookie 12346) and READS
  all three container kinds.
- Delta Lake's ``RoaringBitmapArray`` *portable* 64-bit form (the
  deletion-vector payload per delta-io PROTOCOL.md): little-endian
  ``int64 numberOfBitmaps``, then per bitmap ``int32 key`` (the high
  32 bits of the members) + a standard 32-bit serialization.
- The serialized-DV framing: 4-byte little-endian magic 1681511377
  followed by the portable RoaringBitmapArray.
- The on-disk DV FILE format: one format-version byte (1) at offset 0;
  each stored vector at its descriptor ``offset`` as ``int32
  big-endian dataSize`` + ``dataSize`` bytes of serialized DV +
  ``int32 big-endian CRC-32`` of those bytes.
- Z85 (ZeroMQ RFC 32) — the Base85 alphabet Delta uses for inline DVs
  and for the 20-char UUID in ``storageType='u'`` descriptors.

Honest boundary: everything here round-trips against itself and is
property-tested, but no delta-spark-written DV file exists in this
container to cross-check byte-for-byte; the framing constants are
from the public protocol document. Readers verify magic, version and
CRC, and fail closed on any mismatch rather than guess.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

import numpy as np

SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
DV_MAGIC = 1681511377
DV_FILE_VERSION = 1

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}


# ---------------------------------------------------------------------------
# Z85
# ---------------------------------------------------------------------------
def z85_encode(data: bytes) -> str:
    """4 bytes → 5 chars, big-endian base-85. Input is zero-padded to
    a multiple of 4 (the true length travels out of band — for inline
    DVs it is the descriptor's ``sizeInBytes``)."""
    pad = (-len(data)) % 4
    data = data + b"\x00" * pad
    out = []
    for i in range(0, len(data), 4):
        (v,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError(f"z85 length {len(text)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            try:
                v = v * 85 + _Z85_INV[c]
            except KeyError:
                raise ValueError(f"invalid z85 char {c!r}") from None
        if v > 0xFFFFFFFF:
            raise ValueError("z85 group overflows 32 bits")
        out += struct.pack(">I", v)
    return bytes(out)


# ---------------------------------------------------------------------------
# 32-bit roaring, portable format
# ---------------------------------------------------------------------------
def serialize_roaring32(values) -> bytes:
    """Sorted-unique uint32 members → portable bytes (cookie 12346:
    array/bitmap containers, offset header always present)."""
    vals = np.unique(np.asarray(list(values) if not isinstance(
        values, np.ndarray) else values, dtype=np.uint64)).astype(np.uint32)
    keys = (vals >> np.uint32(16)).astype(np.uint16)
    lows = (vals & np.uint32(0xFFFF)).astype(np.uint16)
    uniq_keys, starts = np.unique(keys, return_index=True)
    n = len(uniq_keys)
    bounds = list(starts) + [len(vals)]
    head = struct.pack("<II", SERIAL_COOKIE_NO_RUN, n)
    desc = bytearray()
    bodies = []
    for i in range(n):
        lo = lows[bounds[i] : bounds[i + 1]]
        card = len(lo)
        desc += struct.pack("<HH", int(uniq_keys[i]), card - 1)
        if card <= 4096:
            bodies.append(lo.astype("<u2").tobytes())
        else:
            bits = np.zeros(65536, dtype=np.uint8)
            bits[lo] = 1
            bodies.append(np.packbits(bits, bitorder="little").tobytes())
    # offset header: container start offsets from the stream start
    off0 = len(head) + len(desc) + 4 * n
    offs = bytearray()
    pos = off0
    for b in bodies:
        offs += struct.pack("<I", pos)
        pos += len(b)
    return head + bytes(desc) + bytes(offs) + b"".join(bodies)


def deserialize_roaring32(buf: memoryview, start: int = 0):
    """(uint32 members ndarray, bytes consumed). Reads all three
    container kinds and both cookies."""
    if len(buf) - start < 4:
        raise ValueError("roaring: truncated cookie")
    (cookie,) = struct.unpack_from("<I", buf, start)
    pos = start + 4
    run_flags = None
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nbytes = (n + 7) // 8
        run_flags = bytes(buf[pos : pos + nbytes])
        pos += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        has_offsets = True
    else:
        raise ValueError(f"roaring: bad cookie {cookie}")
    keys = np.empty(n, np.uint32)
    cards = np.empty(n, np.int64)
    for i in range(n):
        k, c = struct.unpack_from("<HH", buf, pos)
        keys[i], cards[i] = k, c + 1
        pos += 4
    if has_offsets:
        pos += 4 * n  # sequential read; offsets are for random access
    chunks = []
    for i in range(n):
        is_run = bool(run_flags and (run_flags[i // 8] >> (i % 8)) & 1)
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(
                buf, dtype="<u2", count=2 * n_runs, offset=pos
            ).astype(np.uint32).reshape(-1, 2)
            pos += 4 * n_runs
            lo = (
                np.concatenate(
                    [np.arange(s, s + ln + 1, dtype=np.uint32)
                     for s, ln in runs]
                )
                if n_runs
                else np.empty(0, np.uint32)
            )
        elif cards[i] <= 4096:
            lo = np.frombuffer(
                buf, dtype="<u2", count=int(cards[i]), offset=pos
            ).astype(np.uint32)
            pos += 2 * int(cards[i])
        else:
            raw = np.frombuffer(buf, dtype=np.uint8, count=8192, offset=pos)
            pos += 8192
            lo = np.nonzero(np.unpackbits(raw, bitorder="little"))[0].astype(
                np.uint32
            )
        chunks.append((np.uint32(keys[i]) << np.uint32(16)) | lo)
    members = (
        np.concatenate(chunks) if chunks else np.empty(0, np.uint32)
    )
    return members, pos - start


# ---------------------------------------------------------------------------
# Delta RoaringBitmapArray (64-bit) + DV framing
# ---------------------------------------------------------------------------
def serialize_rba(positions) -> bytes:
    """Sorted-unique uint64 row positions → portable RoaringBitmapArray
    (int64 LE count, then per bitmap int32 LE key + 32-bit portable)."""
    pos = np.unique(np.asarray(list(positions) if not isinstance(
        positions, np.ndarray) else positions, dtype=np.uint64))
    hi = (pos >> np.uint64(32)).astype(np.uint32)
    uniq, starts = np.unique(hi, return_index=True)
    bounds = list(starts) + [len(pos)]
    out = bytearray(struct.pack("<q", len(uniq)))
    for i, key in enumerate(uniq):
        lo = (pos[bounds[i] : bounds[i + 1]] & np.uint64(0xFFFFFFFF)).astype(
            np.uint32
        )
        out += struct.pack("<i", int(key))
        out += serialize_roaring32(lo)
    return bytes(out)


def deserialize_rba(data: bytes) -> np.ndarray:
    buf = memoryview(data)
    if len(buf) < 8:
        raise ValueError("RBA: truncated count")
    (n,) = struct.unpack_from("<q", buf, 0)
    if n < 0 or n > 2**31:
        raise ValueError(f"RBA: implausible bitmap count {n}")
    pos = 8
    chunks = []
    for _ in range(n):
        (key,) = struct.unpack_from("<i", buf, pos)
        pos += 4
        members, used = deserialize_roaring32(buf, pos)
        pos += used
        chunks.append(
            (np.uint64(key) << np.uint64(32)) | members.astype(np.uint64)
        )
    return (
        np.concatenate(chunks).astype(np.int64)
        if chunks
        else np.empty(0, np.int64)
    )


def encode_dv_data(positions) -> bytes:
    """Magic + portable RBA — what ``sizeInBytes`` measures."""
    return struct.pack("<i", DV_MAGIC) + serialize_rba(positions)


def decode_dv_data(data: bytes) -> np.ndarray:
    if len(data) < 4 or struct.unpack_from("<i", data, 0)[0] != DV_MAGIC:
        raise ValueError("deletion vector: bad magic")
    return deserialize_rba(data[4:])


def write_dv_file(path: str, positions) -> tuple[int, int, int]:
    """Write one DV into a (new) DV file; returns (offset,
    sizeInBytes, cardinality) for the descriptor."""
    data = encode_dv_data(positions)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as f:
        f.write(bytes([DV_FILE_VERSION]))
        offset = f.tell()
        f.write(struct.pack(">i", len(data)))
        f.write(data)
        f.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    card = len(np.unique(np.asarray(list(positions) if not isinstance(
        positions, np.ndarray) else positions, dtype=np.uint64)))
    return offset, len(data), card


def write_dv_file_multi(path: str, per_key: dict, io=None) -> dict:
    """Write MANY vectors into one DV file (the spec's layout: each
    vector at its own offset behind the single version byte) —
    ``{key: positions}`` → ``{key: (offset, sizeInBytes,
    cardinality)}``. One sidecar per commit instead of one per file is
    exactly what real writers do. The sidecar is built in memory
    (bounded by DV cardinality — metadata-sized) and lands as ONE
    object put through the FileIO seam, so object-store roots get an
    atomic sidecar, not a streamed partial write."""
    import io as _io

    if io is None:
        from .fileio import io_for

        io = io_for(path)
    out = {}
    f = _io.BytesIO()
    f.write(bytes([DV_FILE_VERSION]))
    for key in sorted(per_key):
        positions = per_key[key]
        data = encode_dv_data(positions)
        offset = f.tell()
        f.write(struct.pack(">i", len(data)))
        f.write(data)
        f.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
        card = len(np.unique(np.asarray(
            list(positions) if not isinstance(positions, np.ndarray)
            else positions, dtype=np.uint64)))
        out[key] = (offset, len(data), card)
    io.put_bytes(path, f.getvalue())
    return out


def read_dv_file(
    path: str, offset: int, size_in_bytes: int, io=None
) -> np.ndarray:
    """Decode one framed vector — two RANGED reads (version byte +
    the descriptor's exact frame), never the whole sidecar: a DV file
    packs many vectors and an object store serves byte ranges."""
    if io is None:
        from .fileio import io_for

        io = io_for(path)
    version = io.read_range(path, 0, 1)
    if not version or version[0] != DV_FILE_VERSION:
        raise ValueError(
            f"{path}: DV file format version "
            f"{version[0] if version else '??'} unsupported"
        )
    frame = io.read_range(path, offset, 4 + size_in_bytes + 4)
    if len(frame) < 4 + size_in_bytes + 4:
        raise ValueError(f"{path}@{offset}: truncated DV frame")
    (dsize,) = struct.unpack(">i", frame[:4])
    if dsize != size_in_bytes:
        raise ValueError(
            f"{path}@{offset}: stored dataSize {dsize} != descriptor "
            f"sizeInBytes {size_in_bytes}"
        )
    data = frame[4:4 + dsize]
    (crc,) = struct.unpack(">I", frame[4 + dsize:4 + dsize + 4])
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"{path}@{offset}: DV checksum mismatch")
    return decode_dv_data(data)


# ---------------------------------------------------------------------------
# descriptor plumbing (delta PROTOCOL.md DeletionVectorDescriptor)
# ---------------------------------------------------------------------------
def dv_relative_path(path_or_inline: str) -> str:
    """``storageType='u'``: the last 20 chars are the Z85 UUID, any
    leading chars are a random directory prefix; the table-relative
    file is ``<prefix>/deletion_vector_<uuid>.bin``."""
    if len(path_or_inline) < 20:
        raise ValueError("uuid DV path too short")
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc)[:16])
    name = f"deletion_vector_{u}.bin"
    return os.path.join(prefix, name) if prefix else name


def make_uuid_descriptor_path(u: _uuid.UUID, prefix: str = "") -> str:
    """Inverse of :func:`dv_relative_path` for fixture writers."""
    return prefix + z85_encode(u.bytes)


def dv_positions(
    root: str, storage_type: str, path_or_inline: str,
    offset: int | None, size_in_bytes: int, cardinality: int | None,
    file: str, io=None,
) -> np.ndarray:
    """Decode one descriptor of data file ``file`` to its deleted row
    positions, checked against the descriptor's ``cardinality`` (None:
    not recorded). The descriptor is external input: a truncated or
    mismatched vector raises instead of resurrecting rows. ``io`` is
    the FileIO serving sidecar reads — EXECUTOR-side callers must pass
    the driver-resolved instance (the scheme registry is driver-local)."""
    if storage_type == "i":
        pos = decode_dv_data(z85_decode(path_or_inline)[:size_in_bytes])
    elif storage_type in ("u", "p"):
        path = path_or_inline
        if storage_type == "u":
            path = os.path.join(root, dv_relative_path(path_or_inline))
        pos = read_dv_file(path, offset or 1, size_in_bytes, io=io)
    else:
        raise ValueError(
            f"deletion vector storageType {storage_type!r} unsupported"
        )
    if cardinality is not None and len(pos) != cardinality:
        raise ValueError(
            f"deletion vector for {file}: decoded {len(pos)} "
            f"positions, descriptor says {cardinality}"
        )
    return pos
