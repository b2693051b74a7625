"""Pure-Python MessagePack WIRE codec.

The wire-format family covers the schema-ful encodings the reference's
Kafka stack speaks (Avro + registry framing `avro_py.py`, Debezium JSON
`cdc.py`, proto3 `proto_py.py`, XML via Spark's native from_xml). This
module adds the self-describing BINARY family member — MessagePack
(public spec at msgpack.org, format reference msgpack/spec.md): the
compact tag-prefixed encoding used by fluentd/Redis-streams-adjacent
pipelines as the JSON-but-binary interchange. No external packages:
stdlib struct only, over Arrow batches.

Scope: each row encodes as a fixarray/array16 of column values in
declared column order — nil (0xc0), canonical smallest-width ints
(fixint / [u]int8/16/32/64), float64 (0xcb), str (fixstr/str8/16/32).
Canonical minimal-width integer choice makes encode deterministic, so
encode(decode(x)) is byte-stable and the parquet table is the oracle
for the full round-trip.

Same hardening discipline as avro_py/proto_py (ADVICE r6): every tag,
length, and payload read bounds-checks against the buffer and raises
ValueError("truncated ..."), never IndexError; unknown/out-of-scope
tags raise with the tag byte named.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..operators import sizing

__all__ = ["pack_value", "unpack_value", "encode_msgpack", "decode_msgpack"]


def pack_value(v, out: bytearray) -> None:
    """Append one value's canonical MessagePack encoding."""
    if v is None:
        out.append(0xC0)
    elif isinstance(v, bool):
        out.append(0xC3 if v else 0xC2)
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            out.append(v)
        elif -32 <= v < 0:
            out.append(v & 0xFF)
        elif 0 <= v <= 0xFF:
            out += bytes((0xCC, v))
        elif 0 <= v <= 0xFFFF:
            out += b"\xcd" + struct.pack(">H", v)
        elif 0 <= v <= 0xFFFFFFFF:
            out += b"\xce" + struct.pack(">I", v)
        elif 0 <= v <= 0xFFFFFFFFFFFFFFFF:
            out += b"\xcf" + struct.pack(">Q", v)
        elif -0x80 <= v < 0:
            out += b"\xd0" + struct.pack(">b", v)
        elif -0x8000 <= v < 0:
            out += b"\xd1" + struct.pack(">h", v)
        elif -0x80000000 <= v < 0:
            out += b"\xd2" + struct.pack(">i", v)
        elif -0x8000000000000000 <= v < 0:
            out += b"\xd3" + struct.pack(">q", v)
        else:
            raise ValueError(f"int out of 64-bit range: {v}")
    elif isinstance(v, float):
        out += b"\xcb" + struct.pack(">d", v)
    elif isinstance(v, str):
        b = v.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += bytes((0xD9, n))
        elif n <= 0xFFFF:
            out += b"\xda" + struct.pack(">H", n)
        else:
            out += b"\xdb" + struct.pack(">I", n)
        out += b
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            out += bytes((0xC4, n))
        elif n <= 0xFFFF:
            out += b"\xc5" + struct.pack(">H", n)
        else:
            out += b"\xc6" + struct.pack(">I", n)
        out += bytes(v)
    else:
        raise ValueError(f"unsupported type for msgpack: {type(v)!r}")


def _need(data: bytes, pos: int, n: int, what: str) -> None:
    if pos + n > len(data):
        raise ValueError(f"truncated msgpack {what} at byte {pos}")


def unpack_value(data: bytes, pos: int):
    """Decode one value; returns (value, new_pos). Bounds-checked."""
    _need(data, pos, 1, "tag")
    tag = data[pos]
    pos += 1
    if tag <= 0x7F:
        return tag, pos
    if tag >= 0xE0:
        return tag - 0x100, pos
    if 0xA0 <= tag <= 0xBF:
        n = tag & 0x1F
        _need(data, pos, n, "fixstr payload")
        return data[pos : pos + n].decode("utf-8"), pos + n
    if tag == 0xC0:
        return None, pos
    if tag == 0xC2:
        return False, pos
    if tag == 0xC3:
        return True, pos
    if tag in (0xC4, 0xC5, 0xC6):
        ln = {0xC4: 1, 0xC5: 2, 0xC6: 4}[tag]
        _need(data, pos, ln, "bin length")
        n = int.from_bytes(data[pos : pos + ln], "big")
        pos += ln
        _need(data, pos, n, "bin payload")
        return bytes(data[pos : pos + n]), pos + n
    if tag == 0xCB:
        _need(data, pos, 8, "float64")
        return struct.unpack_from(">d", data, pos)[0], pos + 8
    if tag in (0xCC, 0xCD, 0xCE, 0xCF):
        ln = 1 << (tag - 0xCC)
        _need(data, pos, ln, "uint")
        return int.from_bytes(data[pos : pos + ln], "big"), pos + ln
    if tag in (0xD0, 0xD1, 0xD2, 0xD3):
        ln = 1 << (tag - 0xD0)
        _need(data, pos, ln, "int")
        return (
            int.from_bytes(data[pos : pos + ln], "big", signed=True),
            pos + ln,
        )
    if tag in (0xD9, 0xDA, 0xDB):
        ln = {0xD9: 1, 0xDA: 2, 0xDB: 4}[tag]
        _need(data, pos, ln, "str length")
        n = int.from_bytes(data[pos : pos + ln], "big")
        pos += ln
        _need(data, pos, n, "str payload")
        return data[pos : pos + n].decode("utf-8"), pos + n
    if 0x90 <= tag <= 0x9F or tag in (0xDC, 0xDD):
        if 0x90 <= tag <= 0x9F:
            n = tag & 0x0F
        else:
            ln = 2 if tag == 0xDC else 4
            _need(data, pos, ln, "array length")
            n = int.from_bytes(data[pos : pos + ln], "big")
            pos += ln
        items = []
        for _ in range(n):
            v, pos = unpack_value(data, pos)
            items.append(v)
        return items, pos
    raise ValueError(f"unsupported msgpack tag 0x{tag:02x} at byte {pos - 1}")


def _pack_row(values: list) -> bytes:
    out = bytearray()
    n = len(values)
    if n <= 15:
        out.append(0x90 | n)
    else:
        out += b"\xdc" + struct.pack(">H", n)
    for v in values:
        pack_value(v, out)
    return bytes(out)


def encode_msgpack(df: DataFrame, cols: list[str]) -> DataFrame:
    """rows → one MessagePack array payload per row (columns in the
    declared order, null = nil). Narrow Arrow map, no shuffle."""

    def _encode_msgpack(**row) -> dict:
        return {"payload": _pack_row([row[c] for c in cols])}

    return sizing.map_rows(df, _encode_msgpack, "payload binary")


def decode_msgpack(payloads: DataFrame, cols: list[str], schema: str) -> DataFrame:
    """(payload binary) → typed columns per ``schema`` (a Spark DDL
    string matching ``cols``). Arity is cross-checked per row."""

    def _decode_msgpack(payload: bytes, **_) -> dict:
        vals, end = unpack_value(payload, 0)
        if end != len(payload):
            raise ValueError(f"trailing bytes after msgpack row: {len(payload) - end}")
        if not isinstance(vals, list) or len(vals) != len(cols):
            raise ValueError(f"msgpack row arity mismatch: {vals!r:.60}")
        return dict(zip(cols, vals))

    return sizing.map_rows(payloads, _decode_msgpack, schema)
