"""Puffin file format + Iceberg v3 deletion-vector blobs — from scratch.

Puffin (public spec: iceberg.apache.org/puffin-spec/) is Iceberg's
container for statistics and, since format-version 3, DELETION VECTORS.
Layout:

    Magic Blob_1 ... Blob_n Footer
    Magic  = 0x50 0x46 0x41 0x31 ("PFA1")
    Footer = Magic FooterPayload FooterPayloadSize Flags Magic
    FooterPayloadSize: int32 LE = byte length of FooterPayload
    Flags: 4 bytes; byte 0 bit 0 = FooterPayload is LZ4-compressed
           (the writer emits it on request via `compress_footer`, and
           the reader decompresses it; both use pyarrow's LZ4 frame
           codec, validated against lz4-java in
           tests/test_external_validation)
    FooterPayload: UTF-8 JSON FileMetadata:
        {"blobs": [BlobMetadata...], "properties": {...}}
    BlobMetadata: {"type", "fields", "snapshot-id", "sequence-number",
                   "offset", "length", "compression-codec"?, "properties"?}

The `deletion-vector-v1` blob type (Iceberg spec v3, "Deletion
Vectors") frames a 64-bit roaring bitmap in the SAME byte layout Delta
uses — the cross-format compatibility was the design goal — so the
bitmap machinery is shared with operators/roaring.py:

    <len: int32 BE = len(magic + vector)>
    <magic: bytes D1 D3 39 64>
    <vector: portable RoaringBitmapArray (int64 LE count + 32-bit
             roaring bitmaps)>
    <crc: int32 BE = CRC-32 of (magic + vector)>

Blob properties carry `referenced-data-file` and `cardinality`; the
manifest entry referencing the blob stores `content_offset` (of the
blob, i.e. the length field) and `content_size_in_bytes` (the full
framed length). All implemented from the public specs; no Iceberg code
consulted.
"""

from __future__ import annotations

import json
import struct
import zlib

from .util import atomic_open

MAGIC = b"PFA1"
DV_MAGIC_BYTES = bytes([0xD1, 0xD3, 0x39, 0x64])
DELETION_VECTOR_V1 = "deletion-vector-v1"


def frame_dv_v1(body: bytes) -> bytes:
    """Frame a DV body (magic + portable roaring64 — the byte layout
    shared with Delta's `roaring.dv_blob`) as a deletion-vector-v1
    blob: BE length prefix + body + BE CRC-32. O(compressed-bitmap
    bytes) — safe on the driver even for billion-row DVs, since the
    bitmaps themselves are built executor-side by the JVM-only encoder
    in operators/dv_kernel."""
    if body[:4] != DV_MAGIC_BYTES:
        raise ValueError(f"bad deletion-vector magic {body[:4].hex()}")
    return (
        struct.pack(">i", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body))
    )


def dv_v1_blob(positions: list[int]) -> bytes:
    """Frame sorted unique row positions as a deletion-vector-v1 blob."""
    from .roaring import serialize_roaring64

    return frame_dv_v1(DV_MAGIC_BYTES + serialize_roaring64(positions))


def decode_dv_v1_blob(blob: bytes) -> list[int]:
    """Decode + verify one deletion-vector-v1 blob (length, magic, CRC
    all checked — a truncated DV must fail loudly, never resurrect
    deleted rows)."""
    from .roaring import deserialize_roaring64

    (n,) = struct.unpack_from(">i", blob, 0)
    if 4 + n + 4 != len(blob):
        raise ValueError(
            f"deletion-vector blob length field {n} inconsistent with "
            f"blob size {len(blob)}"
        )
    body = blob[4 : 4 + n]
    if body[:4] != DV_MAGIC_BYTES:
        raise ValueError(f"bad deletion-vector magic {body[:4].hex()}")
    (crc,) = struct.unpack_from(">I", blob, 4 + n)
    if zlib.crc32(body) != crc:
        raise ValueError("deletion-vector CRC mismatch")
    return deserialize_roaring64(body[4:])


_LZ4_FRAME_MAGIC = b"\x04\x22\x4d\x18"


def lz4_frame_compress(data: bytes) -> bytes:
    """`data` as one LZ4 frame, compressed by pyarrow's LZ4 frame codec
    (independent blocks, no content checksum)."""
    import pyarrow as pa

    return pa.compress(data, codec="lz4", asbytes=True)


def lz4_frame_decompress(src: bytes) -> bytes:
    """The content of the LZ4 frame `src`, decoded by pyarrow's LZ4
    frame codec, which verifies the header checksum and any block and
    content checksums the frame carries. A corrupt or truncated frame,
    or input that is no frame at all (empty input included), raises
    ValueError."""
    if src[:4] != _LZ4_FRAME_MAGIC:
        raise ValueError(f"not an LZ4 frame (magic {src[:4].hex() or 'missing'})")
    import pyarrow as pa

    try:
        return pa.input_stream(pa.py_buffer(src), compression="lz4").read()
    except OSError as e:
        raise ValueError(f"LZ4 frame: {e}") from None


def write_puffin(
    path: str,
    blobs: list[dict],
    properties: dict | None = None,
    compress_footer: bool = False,
) -> list[dict]:
    """Write a Puffin file. Each input blob dict needs `type`, `data`
    (bytes), `snapshot-id`, `sequence-number`, and optionally `fields`
    and `properties`. Returns the BlobMetadata list (with offsets) as
    written to the footer. With `compress_footer`, the FooterPayload is
    wrapped in an LZ4 frame (`lz4_frame_compress`) and flag bit 0 set.
    Written all-or-nothing (`util.atomic_open`): a re-export that
    crashes midway leaves the previous file whole."""
    metas = []
    with atomic_open(path) as fh:
        fh.write(MAGIC)
        off = len(MAGIC)
        for b in blobs:
            data = b["data"]
            metas.append(
                {
                    "type": b["type"],
                    "fields": list(b.get("fields", [])),
                    "snapshot-id": b["snapshot-id"],
                    "sequence-number": b["sequence-number"],
                    "offset": off,
                    "length": len(data),
                    **(
                        {"properties": dict(b["properties"])}
                        if b.get("properties")
                        else {}
                    ),
                }
            )
            fh.write(data)
            off += len(data)
        payload = json.dumps(
            {"blobs": metas, "properties": properties or {}},
            sort_keys=True,
        ).encode()
        flags = b"\x00\x00\x00\x00"
        if compress_footer:
            payload = lz4_frame_compress(payload)
            flags = b"\x01\x00\x00\x00"
        fh.write(MAGIC)
        fh.write(payload)
        fh.write(struct.pack("<i", len(payload)))
        fh.write(flags)
        fh.write(MAGIC)
    return metas


def read_puffin_footer(path: str) -> dict:
    """Parse a Puffin file's FileMetadata (footer JSON). Verifies all
    three magics and the footer framing."""
    with open(path, "rb") as fh:
        head = fh.read(4)
        if head != MAGIC:
            raise ValueError(f"{path}: not a Puffin file (head {head!r})")
        fh.seek(0, 2)
        size = fh.tell()
        if size < 4 + 4 + 4 + 4 + 4:
            raise ValueError(f"{path}: truncated Puffin file ({size} bytes)")
        fh.seek(size - 4)
        if fh.read(4) != MAGIC:
            raise ValueError(f"{path}: bad trailing Puffin magic")
        fh.seek(size - 12)
        (payload_size,) = struct.unpack("<i", fh.read(4))
        flags = fh.read(4)
        if any(flags[1:]) or flags[0] & ~0x01:
            raise NotImplementedError(
                f"{path}: unknown Puffin footer flags {flags.hex()}"
            )
        payload_start = size - 12 - payload_size
        fh.seek(payload_start - 4)
        if fh.read(4) != MAGIC:
            raise ValueError(f"{path}: bad footer-start Puffin magic")
        payload = fh.read(payload_size)
    if flags[0] & 0x01:
        # LZ4-frame-compressed footer payload; real writers (Trino,
        # Iceberg-java) may set this
        payload = lz4_frame_decompress(payload)
    meta = json.loads(payload.decode())
    if "blobs" not in meta:
        raise ValueError(f"{path}: Puffin FileMetadata missing 'blobs'")
    return meta


def read_blob(path: str, offset: int, length: int) -> bytes:
    with open(path, "rb") as fh:
        fh.seek(offset)
        data = fh.read(length)
    if len(data) != length:
        raise ValueError(
            f"{path}@{offset}: blob truncated ({len(data)}/{length} bytes)"
        )
    return data


def read_dv(path: str, offset: int, length: int) -> list[int]:
    """Read + decode one deletion vector given the manifest entry's
    content_offset / content_size_in_bytes."""
    # compression-codec, when present in the footer, would apply here;
    # this reader resolves blobs by offset without re-reading the
    # footer, and the writer never compresses DV blobs (roaring bitmaps
    # don't benefit — the spec's own guidance).
    return decode_dv_v1_blob(read_blob(path, offset, length))
