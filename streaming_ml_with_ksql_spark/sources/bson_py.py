"""Pure-Python BSON WIRE codec — the Mongo-side member of the wire
family.

The reference ships predictions to MongoDB through Kafka Connect's
Mongo sink (infra/connect/mongo-sink.json:4-11); the sandbox has no
Mongo, so `streaming/sinks.py` verifies the sink SEAM with a
batch-id-keyed JSONL collection stand-in. This module closes the wire
gap the same way avro_py closed the registry-framing gap: the actual
on-the-wire document encoding a Mongo driver speaks — BSON (public
spec at bsonspec.org, version 1.1) — implemented from the spec with
stdlib struct only, over Arrow batches.

Scope (the element types a flat prediction/event document needs):
  0x01 double (8-byte IEEE754 little-endian)
  0x02 string (int32 byte length INCLUDING the trailing NUL)
  0x05 binary, subtype 0x00 (generic)
  0x08 boolean
  0x0A null
  0x10 int32 / 0x12 int64 — canonical minimal width: int32 iff the
       value fits, else int64 (deterministic, so encode is byte-stable
       and encode(decode(x)) round-trips bit-identically)

Document framing per spec: int32 total byte length (little-endian,
including itself and the trailing 0x00), e_list, 0x00. Field names are
cstrings (UTF-8, no embedded NUL — enforced).

Same hardening discipline as avro_py/proto_py/msgpack_py (ADVICE r6):
every length, name, and payload read bounds-checks against the buffer
and raises ValueError("truncated ..."), never IndexError; the declared
document length must land exactly on the terminator; unknown element
types raise with the type byte named.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..operators import sizing

__all__ = ["encode_document", "decode_document", "encode_bson", "decode_bson"]


def _cstring(name: str) -> bytes:
    b = name.encode("utf-8")
    if b"\x00" in b:
        raise ValueError(f"BSON field name contains NUL: {name!r}")
    return b + b"\x00"


def encode_document(doc: dict) -> bytes:
    """One dict → one canonical BSON document (insertion order kept)."""
    body = bytearray()
    for name, v in doc.items():
        cname = _cstring(name)
        if v is None:
            body += b"\x0a" + cname
        elif isinstance(v, bool):
            body += b"\x08" + cname + (b"\x01" if v else b"\x00")
        elif isinstance(v, int):
            if -0x80000000 <= v <= 0x7FFFFFFF:
                body += b"\x10" + cname + struct.pack("<i", v)
            elif -0x8000000000000000 <= v <= 0x7FFFFFFFFFFFFFFF:
                body += b"\x12" + cname + struct.pack("<q", v)
            else:
                raise ValueError(f"int out of 64-bit range: {v}")
        elif isinstance(v, float):
            body += b"\x01" + cname + struct.pack("<d", v)
        elif isinstance(v, str):
            sb = v.encode("utf-8")
            body += b"\x02" + cname + struct.pack("<i", len(sb) + 1) + sb + b"\x00"
        elif isinstance(v, (bytes, bytearray)):
            body += b"\x05" + cname + struct.pack("<i", len(v)) + b"\x00" + bytes(v)
        else:
            raise ValueError(f"unsupported type for BSON: {type(v)!r}")
    return struct.pack("<i", len(body) + 5) + bytes(body) + b"\x00"


def _need(data: bytes, pos: int, n: int, what: str) -> None:
    if pos + n > len(data):
        raise ValueError(f"truncated BSON {what} at byte {pos}")


def _read_cstring(data: bytes, pos: int) -> tuple[str, int]:
    end = data.find(b"\x00", pos)
    if end < 0:
        raise ValueError(f"truncated BSON cstring at byte {pos}")
    return data[pos:end].decode("utf-8"), end + 1


def decode_document(data: bytes) -> dict:
    """One BSON document → dict. The declared length must cover the
    buffer exactly and land on the 0x00 terminator."""
    _need(data, 0, 4, "document length")
    (total,) = struct.unpack_from("<i", data, 0)
    if total != len(data):
        raise ValueError(
            f"BSON length mismatch: declared {total}, buffer {len(data)}"
        )
    if total < 5 or data[total - 1] != 0:
        raise ValueError("BSON document missing terminator")
    pos, end = 4, total - 1
    out: dict = {}
    while pos < end:
        etype = data[pos]
        pos += 1
        name, pos = _read_cstring(data, pos)
        if etype == 0x0A:
            out[name] = None
        elif etype == 0x08:
            _need(data, pos, 1, "boolean")
            out[name] = data[pos] != 0
            pos += 1
        elif etype == 0x10:
            _need(data, pos, 4, "int32")
            out[name] = struct.unpack_from("<i", data, pos)[0]
            pos += 4
        elif etype == 0x12:
            _need(data, pos, 8, "int64")
            out[name] = struct.unpack_from("<q", data, pos)[0]
            pos += 8
        elif etype == 0x01:
            _need(data, pos, 8, "double")
            out[name] = struct.unpack_from("<d", data, pos)[0]
            pos += 8
        elif etype == 0x02:
            _need(data, pos, 4, "string length")
            (n,) = struct.unpack_from("<i", data, pos)
            pos += 4
            if n < 1:
                raise ValueError(f"invalid BSON string length {n} at {pos}")
            _need(data, pos, n, "string payload")
            if data[pos + n - 1] != 0:
                raise ValueError(f"BSON string missing NUL at byte {pos + n - 1}")
            out[name] = data[pos : pos + n - 1].decode("utf-8")
            pos += n
        elif etype == 0x05:
            _need(data, pos, 5, "binary header")
            (n,) = struct.unpack_from("<i", data, pos)
            subtype = data[pos + 4]
            pos += 5
            if subtype != 0x00:
                raise ValueError(f"unsupported BSON binary subtype 0x{subtype:02x}")
            if n < 0:
                raise ValueError(f"invalid BSON binary length {n}")
            _need(data, pos, n, "binary payload")
            out[name] = bytes(data[pos : pos + n])
            pos += n
        else:
            raise ValueError(f"unsupported BSON element type 0x{etype:02x} at byte {pos}")
    if pos != end:
        raise ValueError(f"BSON element list overran terminator at byte {pos}")
    return out


def encode_bson(df: DataFrame, cols: list[str]) -> DataFrame:
    """rows → one BSON document payload per row (fields in declared
    column order, null = 0x0A). Narrow Arrow map, no shuffle."""

    def _encode_bson(**row) -> dict:
        return {"payload": encode_document({c: row[c] for c in cols})}

    return sizing.map_rows(df, _encode_bson, "payload binary")


def decode_bson(payloads: DataFrame, cols: list[str], schema: str) -> DataFrame:
    """(payload binary) → typed columns per ``schema`` (a Spark DDL
    string matching ``cols``). Field presence is cross-checked per row."""

    def _decode_bson(payload: bytes, **_) -> dict:
        doc = decode_document(payload)
        if set(doc) != set(cols):
            raise ValueError(
                f"BSON field mismatch: got {sorted(doc)}, want {sorted(cols)}"
            )
        return doc

    return sizing.map_rows(payloads, _decode_bson, schema)
