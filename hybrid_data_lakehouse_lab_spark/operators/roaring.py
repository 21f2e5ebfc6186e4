"""RoaringBitmap serialization for Delta deletion vectors — from scratch.

Delta Lake stores deletion vectors (PROTOCOL.md, "Deletion Vectors")
as 64-bit roaring bitmaps in the "portable" RoaringBitmapArray format:

    <numBitmaps: int64 LE>
    <bitmap 0: standard 32-bit roaring portable serialization>
    <bitmap 1> ...

where bitmap ``i`` holds the low-32 bits of every value whose high-32
bits equal ``i`` (the array is dense: empty intermediate bitmaps are
serialized too). Each 32-bit bitmap follows the public Roaring format
spec (github.com/RoaringBitmap/RoaringFormatSpec):

- cookie (int32 LE): ``12346`` (no run containers; followed by an
  int32 container count) or ``12347`` (run containers present;
  ``count - 1`` rides the high 16 bits, then a run-flag bitset).
- descriptive header: per container, uint16 key + uint16 (card - 1).
- offset header (uint32 per container) when cookie is 12346, or when
  cookie is 12347 and count >= 4.
- containers in key order: sorted uint16 arrays (card <= 4096),
  8 KiB bitmaps (card > 4096), or <numRuns: uint16> + (start, len-1)
  uint16 pairs for run containers.

The writer emits only array/bitmap containers under cookie 12346 (the
simplest spec-valid choice — what most writers produce); the reader
accepts all three container types and both cookies, so externally
produced DVs (which may use run containers) still decode.

A Delta DV blob wraps the bitmap as ``<magic: int32 LE = 1681511377>
<RoaringBitmapArray>``; in a DV FILE (storageType "u"/"p") the blob
sits at the descriptor's ``offset`` framed as ``<dataSize: int32 BE>
<blob> <crc32(blob): int32 BE>`` in a file starting with a single
format-version byte ``1``. storageType "i" carries Z85(blob) inline,
and "u" path derivation is ``deletion_vector_<uuid>.bin`` from the
Z85 of the UUID's 16 bytes. The base-85 variant is the ZeroMQ **Z85**
alphabet (spec rfc.zeromq.org/spec/32) — NOT Python's RFC-1924
``base64.b85encode``: PROTOCOL.md's own example payload
``ab^-aqEH.-t@S}K{vb[*k^`` contains ``.`` and ``[``, which only the
Z85 set has. Inputs whose length is not a multiple of 4 are
zero-padded before encoding and truncated back via the caller's known
output length, matching delta-spark's Base85Codec. All implemented
here from the public spec; no Delta code consulted.
"""

from __future__ import annotations

import struct
import uuid as _uuid
import zlib

from .util import atomic_open

DV_MAGIC = 1681511377
_COOKIE_NO_RUN = 12346
_COOKIE_RUN = 12347
_ARRAY_MAX = 4096
_NO_OFFSET_THRESHOLD = 4


def serialize_roaring32(values: list[int]) -> bytes:
    """Standard portable serialization of a 32-bit roaring bitmap.
    `values` must be sorted unique ints in [0, 2^32)."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    out = bytearray()
    out += struct.pack("<ii", _COOKIE_NO_RUN, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    # offset header: byte position of each container from stream start
    pos = len(out) + 4 * len(keys)
    for k in keys:
        out_pos = pos
        card = len(containers[k])
        pos += 2 * card if card <= _ARRAY_MAX else 8192
        out += struct.pack("<I", out_pos)
    for k in keys:
        vals = containers[k]
        if len(vals) <= _ARRAY_MAX:
            out += struct.pack(f"<{len(vals)}H", *vals)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            out += bits
    return bytes(out)


def deserialize_roaring32(buf: bytes, pos: int = 0) -> tuple[list[int], int]:
    """Decode one 32-bit roaring bitmap at `pos`; returns (sorted
    values, next position). Accepts both cookies and all three
    container types."""
    (cookie,) = struct.unpack_from("<i", buf, pos)
    run_flags = b""
    if (cookie & 0xFFFF) == _COOKIE_RUN:
        n = (cookie >> 16) + 1
        pos += 4
        nbytes = (n + 7) // 8
        run_flags = buf[pos : pos + nbytes]
        pos += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos + 4)
        pos += 8
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    header = []
    for i in range(n):
        key, card_m1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        header.append((key, card_m1 + 1))
    if has_offsets:
        pos += 4 * n  # we read containers sequentially; offsets unused
    values: list[int] = []
    for i, (key, card) in enumerate(header):
        base = key << 16
        is_run = bool(run_flags and (run_flags[i >> 3] & (1 << (i & 7))))
        if is_run:
            (nruns,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(nruns):
                start, length_m1 = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(base + v for v in range(start, start + length_m1 + 1))
        elif card <= _ARRAY_MAX:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            values.extend(base + v for v in vals)
        else:
            bits = buf[pos : pos + 8192]
            pos += 8192
            values.extend(
                base + (byte_i << 3) + bit
                for byte_i in range(8192)
                if bits[byte_i]
                for bit in range(8)
                if bits[byte_i] & (1 << bit)
            )
    return values, pos


def serialize_roaring64(values: list[int]) -> bytes:
    """Portable RoaringBitmapArray: int64 LE count + dense consecutive
    32-bit bitmaps (index = high-32 key). `values` sorted unique >= 0."""
    if not values:
        return struct.pack("<q", 0)
    by_high: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        by_high.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    n = max(by_high) + 1
    out = bytearray(struct.pack("<q", n))
    for i in range(n):
        out += serialize_roaring32(by_high.get(i, []))
    return bytes(out)


def deserialize_roaring64(buf: bytes) -> list[int]:
    (n,) = struct.unpack_from("<q", buf, 0)
    pos = 8
    values: list[int] = []
    for i in range(n):
        vals, pos = deserialize_roaring32(buf, pos)
        values.extend((i << 32) | v for v in vals)
    if pos != len(buf):
        raise ValueError(
            f"trailing bytes after roaring64 payload ({len(buf) - pos})"
        )
    return values


# --- Z85 (ZeroMQ base-85) ---------------------------------------------------
#
# Delta's Base85Codec uses the Z85 alphabet, 4 bytes -> 5 chars,
# big-endian within each 4-byte block, most-significant digit first.

Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    """Z85-encode, zero-padding to a 4-byte multiple (delta-spark
    Base85Codec semantics — the decoder truncates via a known output
    length)."""
    pad = (-len(data)) % 4
    if pad:
        data = data + b"\x00" * pad
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i : i + 4], "big")
        block = []
        for _ in range(5):
            n, d = divmod(n, 85)
            block.append(Z85_ALPHABET[d])
        out.extend(reversed(block))
    return "".join(out)


def z85_decode(s: str, out_len: int | None = None) -> bytes:
    """Decode Z85; with `out_len`, strip the zero padding the encoder
    added (must drop fewer than 4 bytes, all zero)."""
    if len(s) % 5:
        raise ValueError(f"Z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        n = 0
        for c in s[i : i + 5]:
            try:
                n = n * 85 + _Z85_DECODE[c]
            except KeyError:
                raise ValueError(f"invalid Z85 character {c!r}") from None
        if n > 0xFFFFFFFF:
            raise ValueError(f"Z85 block {s[i:i + 5]!r} overflows 32 bits")
        out += n.to_bytes(4, "big")
    if out_len is not None:
        dropped = len(out) - out_len
        if dropped < 0 or dropped >= 4:
            raise ValueError(
                f"Z85 payload decodes to {len(out)} bytes; cannot "
                f"truncate to {out_len}"
            )
        if any(out[out_len:]):
            raise ValueError("Z85 padding bytes are not zero")
        del out[out_len:]
    return bytes(out)


# --- Delta DV blob / file framing ------------------------------------------


def dv_blob(values: list[int]) -> bytes:
    """DV data: magic + portable RoaringBitmapArray."""
    return struct.pack("<i", DV_MAGIC) + serialize_roaring64(values)


def decode_dv_blob(data: bytes) -> list[int]:
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    return deserialize_roaring64(data[4:])


def write_dv_file(path: str, blobs: list[bytes]) -> list[tuple[int, int]]:
    """Write a DV file (format-version byte 1, then per blob:
    int32-BE size, blob, int32-BE crc32). Returns (offset, sizeInBytes)
    per blob, offset pointing at the size field per the spec. Written
    all-or-nothing (`util.atomic_open`): a re-export that crashes midway
    leaves the previous file whole."""
    descs = []
    with atomic_open(path) as fh:
        fh.write(b"\x01")
        off = 1
        for blob in blobs:
            descs.append((off, len(blob)))
            fh.write(struct.pack(">i", len(blob)))
            fh.write(blob)
            fh.write(struct.pack(">I", zlib.crc32(blob)))
            off += 4 + len(blob) + 4
    return descs


def read_dv_at(path: str, offset: int, size_in_bytes: int) -> list[int]:
    """Read + checksum-verify one DV from a DV file."""
    with open(path, "rb") as fh:
        if fh.read(1) != b"\x01":
            raise ValueError(f"{path}: unsupported DV file format version")
        fh.seek(offset)
        (n,) = struct.unpack(">i", fh.read(4))
        if n != size_in_bytes:
            raise ValueError(
                f"{path}@{offset}: stored size {n} != descriptor "
                f"sizeInBytes {size_in_bytes}"
            )
        data = fh.read(n)
        (crc,) = struct.unpack(">I", fh.read(4))
    if zlib.crc32(data) != crc:
        raise ValueError(f"{path}@{offset}: deletion-vector CRC mismatch")
    return decode_dv_blob(data)


def encode_dv_uuid(u: _uuid.UUID) -> str:
    """Z85 of the UUID's 16 bytes — the `pathOrInlineDv` payload for
    storageType 'u' (20 characters)."""
    return z85_encode(u.bytes)


def decode_dv_uuid(s: str) -> _uuid.UUID:
    return _uuid.UUID(bytes=z85_decode(s, 16))


def dv_relative_path(path_or_inline: str) -> tuple[str, str]:
    """Resolve a storageType 'u' payload: everything before the final
    20 chars is an optional directory prefix, the final 20 chars decode
    to the UUID naming `deletion_vector_<uuid>.bin`. Returns
    (prefix, filename)."""
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = decode_dv_uuid(enc)
    return prefix, f"deletion_vector_{u}.bin"
