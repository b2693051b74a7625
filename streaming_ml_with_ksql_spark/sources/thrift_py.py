"""Pure-Python Apache Thrift COMPACT protocol codec — the RPC-world
member of the wire family.

The wire family now spans the reference's Kafka stack (Avro + registry
framing, Debezium JSON, proto3 + Confluent framing), the self-
describing binary world (MessagePack), the document world (BSON/XML),
and — with this module — the RPC serialization world: Thrift's compact
protocol (public spec: thrift/doc/specs/thrift-compact-protocol.md in
the Apache Thrift tree). Implemented from the spec with stdlib struct
only, over Arrow batches. What makes it genuinely distinct from
proto3 (not a re-skin):

  - field headers carry a 4-bit FIELD-ID DELTA (short form) — ids are
    encoded relative to the previous field, falling back to a zigzag
    varint only when the delta exceeds 15;
  - BOOLEANS are packed INTO the header type nibble (types 1/2), no
    payload byte;
  - ALL integers (i16/i32/i64, long-form field ids) are
    zigzag-then-ULEB128, where proto3 zigzags only sint* fields;
  - doubles are 8-byte LITTLE-endian (the compact-protocol quirk —
    the older binary protocol is big-endian);
  - a struct terminates with an explicit STOP byte (0x00), so framing
    is self-delimiting without an outer length prefix.

Null columns are OMITTED (field-presence semantics, like proto3).
Canonical encode (fields in ascending id order, short-form deltas
whenever possible) makes encode(decode(x)) byte-stable.

Same hardening discipline as the other codecs (ADVICE r6): every
varint, header, and payload read bounds-checks and raises
ValueError("truncated ..."), never IndexError; unknown type nibbles
raise with the nibble named.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..operators import sizing
from .varint import read_varint, unzigzag, write_varint, zigzag

__all__ = [
    "encode_struct",
    "decode_struct",
    "encode_thrift",
    "decode_thrift",
]

_STOP = 0x00
_TRUE = 0x01
_FALSE = 0x02
_I64 = 0x06
_DOUBLE = 0x07
_BINARY = 0x08


def _field_header(fid: int, ftype: int, last_fid: int, out: bytearray) -> None:
    delta = fid - last_fid
    if 1 <= delta <= 15:
        out.append((delta << 4) | ftype)
    else:
        out.append(ftype)
        write_varint(out, zigzag(fid))


def encode_struct(values: dict[int, object]) -> bytes:
    """{field_id: value} → one compact-protocol struct. None values are
    omitted; fields are written in ascending id order (canonical)."""
    out = bytearray()
    last = 0
    for fid in sorted(values):
        v = values[fid]
        if v is None:
            continue
        if fid <= 0:
            raise ValueError(f"thrift field id must be positive: {fid}")
        if isinstance(v, bool):
            _field_header(fid, _TRUE if v else _FALSE, last, out)
        elif isinstance(v, int):
            if not -0x8000000000000000 <= v <= 0x7FFFFFFFFFFFFFFF:
                raise ValueError(f"int out of 64-bit range: {v}")
            _field_header(fid, _I64, last, out)
            write_varint(out, zigzag(v))
        elif isinstance(v, float):
            _field_header(fid, _DOUBLE, last, out)
            out += struct.pack("<d", v)
        elif isinstance(v, str):
            b = v.encode("utf-8")
            _field_header(fid, _BINARY, last, out)
            write_varint(out, len(b))
            out += b
        elif isinstance(v, (bytes, bytearray)):
            _field_header(fid, _BINARY, last, out)
            write_varint(out, len(v))
            out += bytes(v)
        else:
            raise ValueError(f"unsupported type for thrift: {type(v)!r}")
        last = fid
    out.append(_STOP)
    return bytes(out)


def decode_struct(data: bytes) -> dict[int, object]:
    """One compact-protocol struct → {field_id: value}. The buffer must
    end exactly at the STOP byte."""
    out: dict[int, object] = {}
    pos = 0
    last = 0
    while True:
        if pos >= len(data):
            raise ValueError(f"truncated thrift struct (no STOP) at byte {pos}")
        hdr = data[pos]
        pos += 1
        if hdr == _STOP:
            break
        ftype = hdr & 0x0F
        delta = hdr >> 4
        if delta:
            fid = last + delta
        else:
            u, pos = read_varint(data, pos, "thrift varint (field id)")
            fid = unzigzag(u)
        if fid <= 0:
            raise ValueError(f"invalid thrift field id {fid} at byte {pos}")
        if fid in out:
            raise ValueError(f"duplicate thrift field id {fid} at byte {pos}")
        last = fid
        if ftype == _TRUE:
            out[fid] = True
        elif ftype == _FALSE:
            out[fid] = False
        elif ftype == _I64:
            u, pos = read_varint(data, pos, "thrift varint (i64)")
            out[fid] = unzigzag(u)
        elif ftype == _DOUBLE:
            if pos + 8 > len(data):
                raise ValueError(f"truncated thrift double at byte {pos}")
            out[fid] = struct.unpack_from("<d", data, pos)[0]
            pos += 8
        elif ftype == _BINARY:
            # string and binary share type 8 on the wire; return raw
            # bytes and let the schema-aware frame layer decode UTF-8
            n, pos = read_varint(data, pos, "thrift varint (binary length)")
            if pos + n > len(data):
                raise ValueError(f"truncated thrift binary at byte {pos}")
            out[fid] = bytes(data[pos : pos + n])
            pos += n
        else:
            raise ValueError(
                f"unsupported thrift compact type 0x{ftype:x} at byte {pos - 1}"
            )
    if pos != len(data):
        raise ValueError(f"trailing bytes after thrift STOP: {len(data) - pos}")
    return out


def encode_thrift(df: DataFrame, cols: list[str]) -> DataFrame:
    """rows → one compact-protocol struct payload per row; column i
    (0-based) becomes field id i+1; null = field omitted. Narrow Arrow
    map, no shuffle."""

    def _encode_thrift(**row) -> dict:
        return {"payload": encode_struct({i + 1: row[c] for i, c in enumerate(cols)})}

    return sizing.map_rows(df, _encode_thrift, "payload binary")


def decode_thrift(payloads: DataFrame, cols: list[str], schema: str) -> DataFrame:
    """(payload binary) → typed columns per ``schema``; field id i+1
    maps back to column i, absent field = null. Unknown ids raise (the
    declared schema is the contract, like decode_bson)."""

    def _decode_thrift(payload: bytes, **_) -> dict:
        vals = decode_struct(payload)
        if any(fid > len(cols) for fid in vals):
            raise ValueError(
                f"thrift field id beyond schema arity {len(cols)}: {sorted(vals)}"
            )
        return {
            c: v.decode("utf-8") if isinstance(v := vals.get(i + 1), bytes) else v
            for i, c in enumerate(cols)
        }

    return sizing.map_rows(payloads, _decode_thrift, schema)
