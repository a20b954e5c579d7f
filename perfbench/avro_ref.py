"""A minimal Avro binary encoder for flat records, written from the
Avro 1.11 specification and independent of the program's codec. It
knows exactly what a flat contract needs: null, boolean, int, long,
float, double, string, and unions of those."""

from __future__ import annotations

import struct


def zigzag_varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z & ~0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _encode(t, v) -> bytes:
    if isinstance(t, list):  # union: branch index, then the value
        if v is None:
            return zigzag_varint(t.index("null"))
        branch = next(i for i, b in enumerate(t) if b != "null")
        return zigzag_varint(branch) + _encode(t[branch], v)
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    if t in ("int", "long"):
        return zigzag_varint(int(v))
    if t == "float":
        return struct.pack("<f", v)
    if t == "double":
        return struct.pack("<d", v)
    if t == "string":
        raw = v.encode("utf-8")
        return zigzag_varint(len(raw)) + raw
    raise ValueError(f"not a flat Avro type: {t!r}")


def encode_flat(schema: dict, record: dict) -> bytes:
    """Avro binary body of one flat record, fields in schema order."""
    return b"".join(_encode(f["type"], record.get(f["name"])) for f in schema["fields"])


def confluent(schema_id: int, body: bytes) -> bytes:
    """Confluent wire framing: magic byte 0x00, big-endian uint32 id."""
    return b"\x00" + struct.pack(">I", schema_id) + body
