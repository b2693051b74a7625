"""Pure-Python Protocol Buffers WIRE codec (proto3 binary format).

The reference's Kafka stack speaks the three Confluent wire formats —
Avro (reference `docker-compose.yaml` schema-registry, implemented
executable in `avro_py.py`), JSON (`cdc.py` Debezium wire), and
protobuf. This module makes the third executable in-sandbox: the proto3
binary encoding (LEB128 varints, 64-bit little-endian fixed fields,
length-delimited strings — the public spec at
protobuf.dev/programming-guides/encoding) implemented over Arrow
batches, no protoc, no descriptor files, no external packages.

Scope: scalar fields (int64 varint, double fixed64, string len-delim),
nullable via proto3 field-presence (absent field = null — proto3 omits
defaults, so nullability maps to presence exactly like Avro's union
index). Unknown fields are skipped by wire type, as the spec requires
of every conforming decoder.

Determinism: fields encode in ascending field-number order (the
canonical serialization), so encode(decode(x)) is byte-stable and the
parquet table is the oracle for the full round-trip.

Same hardening discipline as avro_py (ADVICE r6): every varint /
fixed64 / length read bounds-checks against the payload and raises
ValueError("truncated ...") — corrupt bytes fail loudly, never
IndexError."""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import sizing
from .varint import read_varint, write_varint

__all__ = ["FieldSpec", "encode_proto_py", "decode_proto_py",
           "encode_confluent_proto", "decode_confluent_proto"]

# (field_number, column_name, proto_type) with proto_type in
# {"int64", "double", "string"}
FieldSpec = tuple[int, str, str]

_WIRE_VARINT = 0
_WIRE_FIXED64 = 1
_WIRE_LEN = 2
_WIRE_FIXED32 = 5


def _encode_row(row: dict, fields: list[FieldSpec]) -> bytes:
    out = bytearray()
    for num, name, ptype in fields:  # ascending field number = canonical
        v = row[name]
        if v is None:
            continue  # proto3 presence: null = absent
        if ptype == "int64":
            write_varint(out, (num << 3) | _WIRE_VARINT)
            # negative int64 encodes as 2^64 + v (ten bytes), per spec
            write_varint(out, int(v) & 0xFFFFFFFFFFFFFFFF)
        elif ptype == "double":
            write_varint(out, (num << 3) | _WIRE_FIXED64)
            out += struct.pack("<d", float(v))
        elif ptype == "string":
            enc = str(v).encode("utf-8")
            write_varint(out, (num << 3) | _WIRE_LEN)
            write_varint(out, len(enc))
            out += enc
        else:
            raise ValueError(f"unsupported proto type {ptype!r}")
    return bytes(out)


def _decode_payload(data: bytes, fields: list[FieldSpec]) -> dict:
    by_num = {num: (name, ptype) for num, name, ptype in fields}
    row: dict = {name: None for _, name, _ in fields}
    pos = 0
    while pos < len(data):
        key, pos = read_varint(data, pos, "varint")
        num, wire = key >> 3, key & 0x07
        if wire == _WIRE_VARINT:
            val, pos = read_varint(data, pos, "varint")
            val -= (val >> 63) << 64  # two's-complement int64
        elif wire == _WIRE_FIXED64:
            if pos + 8 > len(data):
                raise ValueError(f"truncated fixed64 at byte {pos}")
            (val,) = struct.unpack_from("<d", data, pos)
            pos += 8
        elif wire == _WIRE_LEN:
            ln, pos = read_varint(data, pos, "varint")
            if pos + ln > len(data):
                raise ValueError(f"truncated length-delimited at byte {pos}")
            val = data[pos : pos + ln]
            pos += ln
        elif wire == _WIRE_FIXED32:
            if pos + 4 > len(data):
                raise ValueError(f"truncated fixed32 at byte {pos}")
            val = data[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unknown wire type {wire} at byte {pos}")
        if num not in by_num:
            continue  # spec: skip unknown fields by wire type
        name, ptype = by_num[num]
        if ptype == "int64":
            row[name] = int(val)
        elif ptype == "double":
            row[name] = float(val)
        elif ptype == "string":
            row[name] = val.decode("utf-8")
    return row


def encode_proto_py(df: DataFrame, fields: list[FieldSpec]) -> DataFrame:
    """(id-preserving) → (proto binary) frame: every listed column packed
    into one proto3 message per row. Narrow Arrow map — the encode cost
    rides the existing partitioning, no shuffle."""
    ordered = sorted(fields)
    cols = [name for _, name, _ in ordered]

    def _encode_proto(**row) -> dict:
        return {"payload": _encode_row(row, ordered)}

    return sizing.map_rows(df, _encode_proto, "payload binary")


def decode_proto_py(
    payloads: DataFrame, fields: list[FieldSpec], schema: str
) -> DataFrame:
    """(payload binary) → typed columns per ``schema`` (a Spark DDL
    string matching ``fields``). Bounds-checked parse; absent proto3
    fields surface as nulls."""
    ordered = sorted(fields)

    def _decode_proto(payload: bytes, **_) -> dict:
        return _decode_payload(payload, ordered)

    return sizing.map_rows(payloads, _decode_proto, schema)


def encode_confluent_proto(
    df: DataFrame, registry, subject: str, fields: list[FieldSpec]
) -> DataFrame:
    """Confluent wire framing for protobuf values: 0x00 magic +
    big-endian 4-byte schema id + the MESSAGE-INDEXES array (for the
    first top-level message the array [0] is serialized as the single
    optimized byte 0x00, per the Confluent protobuf wire docs) + the
    proto3 payload. The field spec registers under ``{subject}-value``
    in the same LocalSchemaRegistry the Avro path uses (subjects are
    format-agnostic strings)."""
    import json as _json
    import struct as _struct

    sid = registry.register(f"{subject}-value", _json.dumps(sorted(fields)))
    frame = _struct.pack(">bI", 0, sid) + b"\x00"
    return encode_proto_py(df, fields).select(
        F.concat(F.lit(frame), F.col("payload")).alias("payload")
    )


def decode_confluent_proto(
    payloads: DataFrame, registry, schema: str
) -> DataFrame:
    """Consumer half: validate the 6-byte frame (magic + id +
    single-0x00 message-indexes), resolve the field spec by id from the
    registry, decode every row with a per-row frame check (the mixed-id
    hardening the Avro path got in ADVICE r6)."""
    import json as _json
    import struct as _struct

    head = (
        payloads.select(F.col("payload").substr(1, 6).alias("h"))
        .limit(1)
        .collect()
    )
    if not head:
        raise ValueError("empty frame: no records to decode")
    magic, sid, idx = _struct.unpack(">bIb", bytes(head[0].h))
    if magic != 0:
        raise ValueError(f"bad Confluent magic byte {magic}")
    if idx != 0:
        raise ValueError(
            f"unsupported message-indexes prefix {idx} (expected the "
            "optimized single-0 form)"
        )
    fields = [tuple(f) for f in _json.loads(registry.by_id(sid))]
    frame = _struct.pack(">bIb", 0, sid, 0)

    def _strip_confluent_frame(payload: bytes, **_) -> dict:
        if payload[:6] != frame:
            raise ValueError(
                f"frame mismatch: expected schema id {sid} on "
                "every row (mixed-id topic?)"
            )
        return {"payload": payload[6:]}

    stripped = sizing.map_rows(payloads, _strip_confluent_frame, "payload binary")
    return decode_proto_py(stripped, fields, schema)
