"""The one LEB128 varint reader/writer and zigzag pair shared by the
Avro, protobuf and Thrift compact wire codecs.

A varint carries an unsigned 64-bit value, seven bits per byte, low
group first; the high bit of each byte says another follows. Zigzag maps
a signed int64 onto that range (0, -1, 1, -2 → 0, 1, 2, 3) so small
magnitudes stay short. Reads are bounds-checked: running out of bytes
raises ``truncated <what>``, and a varint longer than ten bytes or
decoding past 2^64 raises ``<what> overruns 64 bits`` (the same rule for
every codec)."""

from __future__ import annotations


def zigzag(n: int) -> int:
    """Signed int64 → unsigned zigzag value."""
    return ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF


def unzigzag(u: int) -> int:
    """Unsigned zigzag value → signed int64."""
    return (u >> 1) ^ -(u & 1)


def write_varint(out: bytearray, u: int) -> None:
    """Append ``u`` (0 <= u < 2^64) as a LEB128 varint."""
    if not 0 <= u <= 0xFFFFFFFFFFFFFFFF:
        raise ValueError(f"varint out of unsigned 64-bit range: {u}")
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_varint(data: bytes, pos: int, what: str) -> tuple[int, int]:
    """(unsigned value, position after it) of the varint at ``pos``;
    ``what`` names it in errors."""
    start, u, shift = pos, 0, 0
    while True:
        if pos >= len(data):
            raise ValueError(f"truncated {what} at byte {start}")
        b = data[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if u >> 64 or (b & 0x80 and shift >= 63):
            raise ValueError(f"{what} overruns 64 bits at byte {start}")
        if not b & 0x80:
            return u, pos
        shift += 7
